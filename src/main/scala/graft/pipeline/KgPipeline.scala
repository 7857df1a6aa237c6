package graft.pipeline

import graft.canon.ConnectedComponents
import graft.ckpt.StageLog
import graft.corpus.Corpus
import graft.extract.Extract
import graft.link.Linking
import graft.model.AliasEntry
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The full KG-construction run, wired through the stage commit log:
  *
  *   docs → sentences/candidates (narrow) → triples (whitelist+score)
  *        → alias dictionary → entity linking (broadcast join, OOV default)
  *        → canonicalization (CC over alias-variant edges)
  *        → canonical triple + entity tables (partitioned by predicate)
  *
  * Every stage materializes via TableIO (atomic snapshot + per-write-task
  * lineage), so a killed run resumes after its last committed stage with
  * byte-identical results (ResumeSpec).
  */
object KgPipeline {

  val stages: Seq[String] = Seq(
    "candidates", "triples", "alias_dict", "linked_triples", "entity_canon", "canonical_triples")

  /** Hash-bucket count for the entity table's partition layout (the Iceberg
    * `bucket(N, entity_id)` transform analog). 16 at test scale; a config
    * knob — at 10¹²-doc scale this is sized to target file counts.
    */
  val entityBuckets = 16

  /** Plural/variant stem for canonicalization edges: aliases whose stem
    * matches collapse into one entity (e.g. "tables" ↔ "table"). A stand-in
    * for the reference's trained-similarity canonicalization, fully
    * deterministic.
    */
  def stem(c: org.apache.spark.sql.Column) =
    when(length(c) > 3 && c.endsWith("s"), c.substr(lit(1), length(c) - 1)).otherwise(c)

  /** Stem-variant edges of an alias dictionary (alias, entity_id):
    * entity ↔ entity of its stemmed alias when both exist, SELF-MATCHES
    * EXCLUDED — stem(a) == a for every non-plural alias, so without the
    * filter the edge set carries a self-edge per dictionary entry and CC's
    * vertex set becomes the whole Heaps-large dictionary instead of the
    * much smaller variant subgraph (review finding; the callers restore
    * singletons via an explicit self-edge union or a left-join coalesce).
    * The stem self-join stays a shuffle join deliberately: at 100 TB the
    * dictionary is Heaps-large on BOTH sides.
    */
  private def variantEdges(d: DataFrame): DataFrame = {
    val stemmed = d.select(col("entity_id").as("src_id"), stem(col("alias")).as("stem"))
    val byStem = d.select(col("alias").as("stem_alias"), col("entity_id").as("dst_id"))
    stemmed
      .join(byStem, col("stem") === col("stem_alias"))
      .filter(col("src_id") =!= col("dst_id"))
      .select(col("src_id").as("src"), col("dst_id").as("dst"))
  }

  /** @param broadcastMaxDictRows dictionary-side row bound for the two
    *   entity joins: at or below it the dictionary broadcasts (one hash
    *   build per executor, no stream shuffle); above it the join degrades
    *   to `Linking.saltedLeftJoin` — a hard `broadcast()` hint on a
    *   Heaps-large table would force the full dictionary through the
    *   driver regardless of `autoBroadcastJoinThreshold` (review finding).
    *   ~5M rows ≈ low hundreds of MB broadcast; a config knob at scale.
    */
  def run(spark: SparkSession, sfDir: String, runDir: String,
          whitelistMinCount: Long = 3,
          broadcastMaxDictRows: Long = 5000000L): DataFrame = {
    import spark.implicits._
    val log = new StageLog(spark, runDir)

    val candidates = log.runStage("candidates") {
      Extract.candidates(Extract.docsToSentences(Corpus.fromDocuments(spark, sfDir))).toDF()
    }

    val triples = log.runStage("triples") {
      import graft.model.SdpCandidate
      val cands = candidates.as[SdpCandidate]
      // whitelist + vocab gates stay DataFrames end-to-end: no corpus-derived
      // dictionary is ever collected to the driver (its size grows with the
      // corpus — the classic driver-heap bottleneck at 100×). AQE turns these
      // semi-joins into broadcast joins while the dictionaries are small.
      val wl = Extract.signatureWhitelist(cands, whitelistMinCount).select("sig")
      // is_ok_sdp rule 1 (semeval2sdp.py:245-262): drop candidates whose
      // target surfaces are out-of-vocabulary (< 2 occurrences corpus-wide)
      val vocab = candidates.select(col("x").as("surface"))
        .union(candidates.select(col("y").as("surface")))
        .groupBy("surface").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 2)
        .select("surface")
      val gated = Extract.filterByWhitelistDF(cands, wl)
        .join(vocab.withColumnRenamed("surface", "__xs"),
          col("x") === col("__xs"), "left_semi")
        .join(vocab.withColumnRenamed("surface", "__ys"),
          col("y") === col("__ys"), "left_semi")
        .as[SdpCandidate]
      Extract.triples(gated).toDF()
    }

    val aliasDict = log.runStage("alias_dict") {
      Linking.buildAliasDictFromSurfaces(
        triples.select(col("subj")).union(triples.select(col("obj")))).toDF()
    }

    // one dictionary row count decides BOTH entity joins below: broadcast
    // while the dictionary is driver-safe, salted shuffle join beyond
    // (canon is row-for-row the dictionary, so the one count covers it too).
    // The count comes from the alias_dict manifest, so it costs no job.
    val dictIsSmall = log.rows("alias_dict") <= broadcastMaxDictRows

    val linked = log.runStage("linked_triples") {
      val dict = aliasDict.select(col("alias"), col("entity_id"))
      val joined =
        if (dictIsSmall) {
          val b = broadcast(dict)
          triples
            .join(b.withColumnRenamed("alias", "s_alias")
              .withColumnRenamed("entity_id", "subj_id"), col("subj") === col("s_alias"), "left")
            .join(b.withColumnRenamed("alias", "o_alias")
              .withColumnRenamed("entity_id", "obj_id"), col("obj") === col("o_alias"), "left")
        } else {
          // skew-aware degradation: the triple stream's hot surfaces (Zipf
          // head) would swamp single reducers in a plain shuffle join; the
          // salt spreads each key over `entityBuckets` reducers
          val s = Linking.saltedLeftJoin(triples,
            dict.withColumnRenamed("alias", "s_alias")
              .withColumnRenamed("entity_id", "subj_id"),
            "subj", "s_alias", Seq("doc_id", "span_idx"), entityBuckets)
          Linking.saltedLeftJoin(s,
            dict.withColumnRenamed("alias", "o_alias")
              .withColumnRenamed("entity_id", "obj_id"),
            "obj", "o_alias", Seq("doc_id", "span_idx"), entityBuckets)
        }
      joined
        .select(col("doc_id"), col("span_idx"), col("pred"), col("score"),
          col("subj"), coalesce(col("subj_id"), lit(Linking.OovEntityId)).as("subj_id"),
          col("obj"), coalesce(col("obj_id"), lit(Linking.OovEntityId)).as("obj_id"))
    }

    // the ENTITY table partitions by an entity-id hash bucket (the Iceberg
    // `bucket(N, entity_id)` transform restated as a partition column) —
    // point lookups and canonical-id joins prune to one bucket directory
    // instead of scanning the table, and the hash spreads write volume
    // evenly where raw entity_id would make one directory per entity
    val canon = log.runStage("entity_canon", partitionBy = Seq("entity_bucket")) {
      // edges: entity ↔ entity of its stemmed alias (when both exist), plus
      // self-loops so every entity appears in the CC vertex set (the durable
      // entity_canon table lists EVERY entity — unlike the in-memory
      // benchmark path, which restores singletons via a left-join coalesce)
      val d = aliasDict.select(col("alias"), col("entity_id"))
      val selfEdges = d.select(col("entity_id").as("src"), col("entity_id").as("dst"))
      // CC rounds checkpoint durably inside the run dir: a mid-CC kill
      // resumes from the last committed labels instead of restarting
      ConnectedComponents.run(variantEdges(d).union(selfEdges),
        ckptDir = Some(s"$runDir/cc"))
        .select(col("id").as("entity_id"), col("component").as("canonical_id"),
          pmod(hash(col("id")), lit(entityBuckets)).as("entity_bucket"))
    }

    log.runStage("canonical_triples", partitionBy = Seq("pred")) {
      // project away entity_bucket BEFORE the join: it is a partition-layout
      // column, replicating it in a broadcast (twice) is dead payload, and
      // two identically-named copies in the joined frame would make any
      // later entity_bucket reference ambiguous (review finding)
      val cProj = canon.select(col("entity_id"), col("canonical_id"))
      val joined =
        if (dictIsSmall) {
          val c = broadcast(cProj)
          linked
            .join(c.withColumnRenamed("entity_id", "s_ent")
              .withColumnRenamed("canonical_id", "subj_canon"),
              col("subj_id") === col("s_ent"), "left")
            .join(c.withColumnRenamed("entity_id", "o_ent")
              .withColumnRenamed("canonical_id", "obj_canon"),
              col("obj_id") === col("o_ent"), "left")
        } else {
          val s = Linking.saltedLeftJoin(linked,
            cProj.withColumnRenamed("entity_id", "s_ent")
              .withColumnRenamed("canonical_id", "subj_canon"),
            "subj_id", "s_ent", Seq("doc_id", "span_idx"), entityBuckets)
          Linking.saltedLeftJoin(s,
            cProj.withColumnRenamed("entity_id", "o_ent")
              .withColumnRenamed("canonical_id", "obj_canon"),
            "obj_id", "o_ent", Seq("doc_id", "span_idx"), entityBuckets)
        }
      joined
        .select(
          coalesce(col("subj_canon"), col("subj_id")).as("subj_id"),
          col("pred"),
          coalesce(col("obj_canon"), col("obj_id")).as("obj_id"),
          col("subj"), col("obj"), col("doc_id"), col("span_idx"), col("score"))
    }
  }

  /** The full docs→canonical-triples dataflow WITHOUT durable stage commits —
    * the scaling-benchmark job (BENCH.md "pipeline pair"). Same stage graph
    * as `run`: narrow fused extraction → corpus-derived dictionary gate
    * (shuffle agg + semi-joins) → alias dictionary (shuffle agg +
    * range-partitioned rank) → entity-link join → connected-components
    * canonicalization (iterative shuffle) → canonical join. TableIO is
    * deliberately absent so the measurement scales the ENGINE's shuffle-
    * bearing stages, not the local filesystem.
    *
    * One declared delta vs `run`: the signature-whitelist gate is subsumed by
    * the fused kernel's scoring pass (the kernel computes each signature
    * once, inline), so the dictionary-gate shuffle shape is exercised by the
    * vocabulary gate instead — same pattern (corpus-wide agg + left-semi
    * join), strictly larger dictionary.
    */
  /** @param broadcastDict true (default, the benchmarked configuration)
    *   broadcasts the canonicalized dictionary into the output pass; false
    *   selects the salted-shuffle degradation path for corpora whose
    *   dictionary outgrows a driver-safe broadcast (the row-equality of the
    *   two paths is spec-pinned). The benchmark keeps the broadcast form —
    *   its dictionary is bounded by the synthetic vocabulary.
    */
  def canonicalTriplesInMemory(docs: Dataset[(Long, String)],
                               vocabMinCount: Long = 2,
                               broadcastDict: Boolean = true): DataFrame = {
    // Pass economy at 10^12 rows — two corpus-scale passes, NOTHING
    // corpus-scale is materialized:
    //   pass 1: fused extraction → (subj, obj) PAIR aggregation. Map-side
    //           partial aggregation means the shuffle carries per-task
    //           distinct pairs, and the result is Heaps-bounded (distinct
    //           surface pairs), not corpus-sized. Every dictionary stage
    //           below derives from this small table.
    //   pass 2: fused extraction again → two broadcast joins → output.
    // An earlier revision cached the full triple stream and scanned it three
    // times; measured on this machine the columnar cache round-trip
    // (compress + decompress + string materialization) costs MORE memory
    // bandwidth than re-running the allocation-lean kernel, and its CPU
    // inflates 2-2.7× with core count while the kernel's stays flat
    // (BENCH.md). Recompute-over-cache is also the 100 TB-honest choice: the
    // production `run` gets pass economy from durable TableIO parquet
    // commits instead.
    // localCheckpoint (not persist): the pair table is the lineage boundary
    // between the corpus-scale pass and a dozen dictionary-sized actions —
    // as a LogicalRDD leaf each of those actions analyzes/optimizes a
    // few-node plan, while behind a persist every action re-plans the whole
    // corpus subtree (~1-1.5 s of driver time per rep, measured; a pure
    // serial cost the scaling pair would mis-attribute to the engine)
    val pairCounts = Extract.triplesFused(docs).toDF()
      .groupBy("subj", "obj").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = true)

    // (B) is_ok_sdp rule 1 input: corpus-wide endpoint frequencies —
    // dictionary-sized rollup of the pair table (a triple with subj==obj
    // still counts that surface twice, as in the staged pipeline). The
    // endpoint multiset is built by EXPLODING each pair row into its two
    // endpoints instead of unioning two projections of the pair table: the
    // union form scans the leaf twice and plans two aggregation arms — and
    // exchange reuse cannot dedupe across these checkpoint leaves (a
    // LogicalRDD that preserves its shuffle's HashPartitioning defeats
    // canonical plan equality, measured: every broadcast subtree built
    // per-reference), so single-reference plans are the reliable form.
    val endpointCounts = pairCounts
      .select(explode(array(col("subj"), col("obj"))).as("surface"), col("n"))
    // vocab is referenced by two broadcast builds (one per semi-join side);
    // materialized once so each build scans the tiny leaf instead of
    // re-aggregating the pair table. Each semi-join side gets a FRESH
    // structurally-identical Project instance over the leaf: fresh instances
    // canonicalize equal and ReuseExchange collapses them to one broadcast
    // build, while referencing the same val twice defeats the reuse
    // (measured on the dictionary-broadcast pair below).
    val vocabCkpt = endpointCounts
      .groupBy("surface").agg(sum("n").as("cnt"))
      .filter(col("cnt") >= vocabMinCount)
      .select(col("surface").as("__vs"))
      .localCheckpoint(eager = true)
    def vocab = vocabCkpt.select(col("__vs"))

    // (C) alias frequency over the GATED stream (matches `run`: the
    // dictionary ranks what survives the vocab gate), computed from gated
    // PAIRS weighted by n — identical multiset to re-scanning the stream.
    // Explicit broadcast: vocab sits behind the persist boundary, so the
    // planner has no stats; unhinted this degrades to shuffle joins — which
    // is exactly the right plan when `broadcastDict = false` declares the
    // dictionary tables beyond driver-safe size (both join sides are
    // dictionary-sized there, and AQE picks the strategy from runtime stats)
    def hinted(df: DataFrame): DataFrame = if (broadcastDict) broadcast(df) else df
    val gatedCounts = pairCounts
      .join(hinted(vocab), col("subj") === col("__vs"), "left_semi")
      .join(hinted(vocab), col("obj") === col("__vs"), "left_semi")
      .select(explode(array(col("subj"), col("obj"))).as("alias"), col("n"))
      .groupBy("alias").agg(sum("n").as("freq"))
      .localCheckpoint(eager = true)
    val aliasDict = Linking.buildAliasDictFromCounts(gatedCounts).toDF()
      .localCheckpoint(eager = true)

    // canonicalization: CC over stem-variant edges of the dictionary. No
    // self-edges (`variantEdges` filters the stem(a)==a self-matches) —
    // entities outside every variant edge keep their own id via the
    // left-join coalesce below, so CC runs on the (much smaller) variant
    // subgraph only.
    val d = aliasDict.select(col("alias"), col("entity_id"))
    val canon = ConnectedComponents.run(variantEdges(d))
      .select(col("id").as("entity_id"), col("component").as("canonical_id"))

    // Compose canonicalization INTO the dictionary (dictionary-sized join)
    // instead of joining it onto the linked triple stream: the 10^12-row
    // stream is probed TWICE total (subj leg, obj leg) rather than four
    // times. Row-equal to the staged gate→link→canon composition of `run`:
    // subj_id = canon[dict[subj]] (dict hits never need the OOV fallback
    // after the gate), and the vocab gate itself is equivalent to inner-join
    // membership in the gated dictionary — an alias is in that dictionary
    // iff it survives the gate in some triple, and a triple survives iff
    // BOTH its endpoints are in-vocab.
    val dictCanonPlain =
      d.join(canon, d("entity_id") === canon("entity_id"), "left")
        .select(d("alias"),
          coalesce(col("canonical_id"), d("entity_id")).as("canon_id"))

    // (D) output pass: re-extract, then gate + link + canonicalize in one
    // narrow stage. Default: two broadcast hash joins. The rename-per-side
    // form pays two broadcast builds of the dictionary-sized table; a
    // shared-subtree form that reuses one build was MEASURED SLOWER overall
    // (pass-2 task CPU +30% — the extra mid-join projection and relation
    // dedup outweigh one small build), so two builds it is. When the
    // dictionary outgrows a driver-safe broadcast (`broadcastDict = false`),
    // the gate+link joins degrade to Linking.saltedLeftJoin: the inner-join
    // vocab gate is restored by the not-null filters (a surface is in the
    // gated dictionary iff the left join found it).
    val stream = Extract.triplesFused(docs).toDF()
    if (broadcastDict) {
      val dictCanon = broadcast(dictCanonPlain)
      stream
        .join(dictCanon.withColumnRenamed("alias", "s_alias")
          .withColumnRenamed("canon_id", "subj_id"), col("subj") === col("s_alias"))
        .join(dictCanon.withColumnRenamed("alias", "o_alias")
          .withColumnRenamed("canon_id", "obj_id"), col("obj") === col("o_alias"))
        .select(col("subj_id"), col("pred"), col("obj_id"),
          col("subj"), col("obj"), col("doc_id"), col("span_idx"), col("score"))
    } else {
      val s = Linking.saltedLeftJoin(stream,
        dictCanonPlain.withColumnRenamed("alias", "s_alias")
          .withColumnRenamed("canon_id", "subj_id"),
        "subj", "s_alias", Seq("doc_id", "span_idx"), entityBuckets)
      Linking.saltedLeftJoin(s,
        dictCanonPlain.withColumnRenamed("alias", "o_alias")
          .withColumnRenamed("canon_id", "obj_id"),
        "obj", "o_alias", Seq("doc_id", "span_idx"), entityBuckets)
        .filter(col("subj_id").isNotNull && col("obj_id").isNotNull)
        .select(col("subj_id"), col("pred"), col("obj_id"),
          col("subj"), col("obj"), col("doc_id"), col("span_idx"), col("score"))
    }
  }

  /** Entity table for the emitted graph: canonical id per alias. */
  def entityTable(spark: SparkSession, runDir: String): DataFrame = {
    val log = new StageLog(spark, runDir)
    val dict = log.runStage("alias_dict")(sys.error("alias_dict must be committed"))
    val canon = log.runStage("entity_canon")(sys.error("entity_canon must be committed"))
    dict.join(canon, Seq("entity_id"), "left")
      .select(col("alias"), col("entity_id"),
        coalesce(col("canonical_id"), col("entity_id")).as("canonical_id"),
        col("freq"))
  }
}
