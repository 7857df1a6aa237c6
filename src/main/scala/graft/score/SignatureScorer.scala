package graft.score

import graft.model.{PathStep, SdpCandidate, Triple}

/** Deterministic relation scorer keyed on the dependency-path signature.
  *
  * The reference gates candidates on a dep-structure whitelist
  * (wiki_and_semeval2sdp.py:267-293 with the sdp_dep_structures.py literal) and
  * assigns labels with a trained classifier (relembed.py:304-329). Offline we
  * keep the whitelist semantics exactly and replace the trained classifier with
  * a deterministic signature→label map, so fixtures are exactly reproducible
  * (SURVEY.md §7.0). The scorer is a pure function: same path ⇒ same triple.
  */
object SignatureScorer {

  def signatureKey(path: Array[PathStep]): String =
    path.iterator.map(_.dep).mkString("\u0001")  // separator avoids dep-boundary collisions

  def toTriple(cand: SdpCandidate): Triple =
    toTripleWithSig(cand, signatureKey(cand.path))

  /** toTriple with the signature precomputed — the hot path computes the
    * signature once for whitelist check + label + score. The label is a
    * non-'Other' label picked by a spec-fixed string hash of the signature
    * ('Other' is reserved for non-whitelisted structures, which the pipeline
    * drops, mirroring the reference's GOOD/BAD audit split); the score is a
    * pseudo-confidence in (0,1], deterministic per candidate.
    */
  def toTripleWithSig(cand: SdpCandidate, sig: String): Triple = {
    val label = Labels.all(math.floorMod(sig.hashCode, Labels.all.length - 1))
    val score = 0.5 + math.floorMod((cand.x + "" + cand.y + "" + sig).hashCode, 1000) / 2000.0
    // direction: (e2,e1) labels swap subject/object, mirroring how the
    // reference encodes direction in the label (semeval_data_helper.py:208-229)
    val (s, o) = if (label.endsWith("(e2,e1)")) (cand.y, cand.x) else (cand.x, cand.y)
    Triple(s, Labels.collapse(label), o, cand.doc_id, cand.span_idx, score)
  }
}
