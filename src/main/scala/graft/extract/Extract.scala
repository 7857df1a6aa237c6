package graft.extract

import graft.annotate.Annotator
import graft.model._
import graft.score.SignatureScorer
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset-level extraction stages: docs → sentences → mentions → SDP
  * candidates → triples. Every stage is a narrow transformation (flatMap /
  * mapPartitions) — no shuffle until linking/canonicalization — so the whole
  * extraction pipelines inside one Spark stage regardless of input size.
  *
  * Reference dataflow restated (SURVEY.md §3.1): text line → spaCy Doc →
  * chunk pairs → root paths → SDP dict → encoded JSONL.
  */
object Extract {

  /** Explode text spans into annotated sentences, preserving (doc_id,
    * span_idx) so the span-sequence invariant is restorable. Media spans pass
    * through untouched elsewhere; this stage only consumes kind='text'.
    */
  def docsToSentences(docs: Dataset[Doc]): Dataset[Sentence] = {
    import docs.sparkSession.implicits._
    docs.flatMap { d =>
      d.spans.iterator.zipWithIndex.collect {
        case (s, idx) if s.kind == "text" && s.text.nonEmpty =>
          val (tokens, chunks) = Annotator.annotate(Annotator.tokenize(s.text))
          Sentence(d.doc_id, idx, tokens, chunks)
      }
    }
  }

  /** Typed mention rows from chunk heads (reference noun-chunk heads,
    * semeval2sdp.py:24-46).
    */
  def mentions(sentences: Dataset[Sentence]): Dataset[Mention] = {
    import sentences.sparkSession.implicits._
    sentences.flatMap { s =>
      s.chunks.iterator.flatMap { c =>
        Sdp.chunkHead(s.tokens, c).map { h =>
          Mention(s.doc_id, s.span_idx, h, c.start, c.end, s.tokens(h).text.toLowerCase)
        }
      }
    }
  }

  /** SDP candidates: pair generation + 3-case assembly + length bounds +
    * punct-step removal. `maxPairsPerSentence` caps the quadratic chunk-pair
    * blowup (J4) so one pathological sentence can't skew a partition. The
    * dropped pairs are not counted anywhere: stage lineage records only the
    * candidates that survive.
    */
  def candidates(
      sentences: Dataset[Sentence],
      minLen: Int = 1,
      maxLen: Int = 7,
      source: String = "WIKI",
      maxPairsPerSentence: Int = 64): Dataset[SdpCandidate] = {
    import sentences.sparkSession.implicits._
    sentences.flatMap { s =>
      Sdp.sentenceToSdps(s.tokens, s.chunks, minLen, maxLen)
        .take(maxPairsPerSentence)
        .iterator
        .map { case (x, y, path) =>
          SdpCandidate(
            s.doc_id, s.span_idx,
            s.tokens(x).text.toLowerCase, s.tokens(y).text.toLowerCase,
            Sdp.postProcess(path), source)
        }
        .filter(_.path.nonEmpty)
    }
  }

  /** Build the dep-structure whitelist as a dictionary stage: signatures seen
    * at least `minCount` times (the reference ships this as a precomputed
    * literal, sdp_dep_structures.py:1; we derive it from the corpus the same
    * way its authors did from SemEval).
    */
  def signatureWhitelist(cands: Dataset[SdpCandidate], minCount: Long): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands
      .map(c => SignatureScorer.signatureKey(c.path))
      .toDF("sig")
      .groupBy("sig").count()
      .filter(col("count") >= minCount)
  }

  /** Whitelist gate (is_ok_sdp v2 structure check,
    * wiki_and_semeval2sdp.py:289-292) as a broadcast-set filter — the
    * signature set is tiny relative to data, so this is a broadcast semi-join
    * that never shuffles the candidate stream.
    */
  def filterByWhitelist(
      cands: Dataset[SdpCandidate],
      whitelist: Set[String]): Dataset[SdpCandidate] = {
    val spark = cands.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(whitelist)
    cands.filter(c => bc.value.contains(SignatureScorer.signatureKey(c.path)))
  }

  /** Collect-free whitelist gate: the same is_ok_sdp v2 semantics as
    * `filterByWhitelist`, but the whitelist stays a DataFrame and the gate is
    * a left-semi join on the path signature. At corpus scale the signature
    * dictionary grows past what a driver-side Set should hold; as a join,
    * AQE picks a broadcast hash join while it is small and degrades to a
    * shuffle join (never a driver OOM) when it is not.
    */
  def filterByWhitelistDF(
      cands: Dataset[SdpCandidate],
      whitelist: DataFrame): Dataset[SdpCandidate] = {
    val spark = cands.sparkSession
    import spark.implicits._
    cands.map(c => (c, SignatureScorer.signatureKey(c.path)))
      .toDF("c", "sig")
      .join(whitelist.select("sig"), Seq("sig"), "left_semi")
      .select("c.*")
      .as[SdpCandidate]
  }

  /** Score whitelisted candidates into triples (deterministic signature
    * scorer; the broadcast-model mapPartitions variant lives in score/).
    */
  def triples(cands: Dataset[SdpCandidate]): Dataset[Triple] = {
    import cands.sparkSession.implicits._
    cands.map(SignatureScorer.toTriple)
  }

  /** Fused extraction: (doc_id, text) → triples in ONE narrow stage with no
    * intermediate Encoder round-trips and (as of round 2) no per-token/
    * per-step object allocation: the row logic runs in FusedKernel over
    * reusable per-partition scratch arrays. The composable stages above
    * serialize Doc → Sentence → SdpCandidate → Triple at every typed
    * boundary; at full parallelism that allocation rate becomes the scaling
    * bottleneck (GC is a shared resource across executor threads). Results
    * are row-equal to the composed pipeline — ExtractPipelineSpec runs the
    * differential with and without whitelist.
    *
    * `whitelist` empty ⇒ no signature gate (candidates mode).
    */
  def triplesFused(
      docs: Dataset[(Long, String)],
      whitelist: Set[String] = Set.empty,
      minLen: Int = 1,
      maxLen: Int = 7,
      maxPairsPerSentence: Int = 64): Dataset[Triple] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(whitelist)
    docs.mapPartitions { it =>
      val wl = bc.value
      val scratch = new FusedKernel.Scratch
      it.flatMap { case (id, text) =>
        FusedKernel.docTriples(id, text, wl, minLen, maxLen, maxPairsPerSentence, scratch)
      }
    }
  }
}
