package graft

/** The parameter-blind-artifact tripwire (round 15 — this class of bug bit
  * in round 13 (champost parameterizations served across cut changes) and
  * twice in round 14 (8-subspace PQ books silently decoded under the
  * 16-subspace geometry; correlated-seed labels/docglobal served stale
  * decisions): an artifact whose KIND + VERSION stay fixed while a
  * content-determining parameter moves keeps serving the OLD derivation,
  * and only a full-suite oracle run catches it — sometimes.
  *
  * Two protection patterns exist in the codebase:
  *
  *  - **parameter-carrying kinds** (`graft_champost_<inv>_<cap>`,
  *    `graft_pqcodes_m<M>k<K>`, `graft_ivf_m<mod>_c<cells>`…): the
  *    parameter IS the key, so a change re-keys and can never serve a
  *    stale parameterization. Self-protecting — not listed here.
  *  - **version-keyed kinds** whose parameters are INVISIBLE in the path
  *    (the minhash permutation family behind `graft_bands`, the identity
  *    hash space behind `graft_docbase`…): the only guard is the human
  *    remembering to bump the version constant. THIS registry makes that
  *    guard mechanical: each family lists every content-determining
  *    constant, and ArtifactParamsSpec golden-pins (version, fingerprint)
  *    — changing a listed constant without bumping the family's version
  *    fails CI with instructions, instead of silently serving stale
  *    artifacts until an oracle run happens to disagree.
  *
  * Boundary: the fingerprint covers CONSTANTS (seeds, geometry, hash-space
  * choices recorded as upstream version couplings). A change to the
  * derivation CODE under unchanged constants is the correctness gate's
  * job (199 oracled rows) — no string here can fingerprint an expression
  * tree. */
object ArtifactParams {
  import graft.functions.MinHashSignature
  import graft.operators.{CorpusPrep, Dedup, FuzzySearch, KMeans, Similarity}

  final case class Family(kind: String, version: Int,
                          params: Seq[(String, String)]) {
    /** Human-readable, order-stable — diffs in the spec failure message
      * point at the exact parameter that moved. */
    def fingerprint: String =
      params.map { case (k, v) => s"$k=$v" }.mkString(";")
  }

  /** Sample of the splitmix64 permutation family (first three (A,B)
    * pairs): any change to the mix constants or the seed offsets moves
    * these values — the exact bug class of the round-14 minhash find. */
  private def permSample: String =
    (0 until 3).map(i =>
      s"${MinHashSignature.permA(i)}/${MinHashSignature.permB(i)}").mkString(",")

  /** One row per version-keyed artifact family. Upstream version
    * couplings are parameters too: an artifact derived FROM another
    * artifact re-derives different content when the upstream derivation
    * changes, even though its own constants did not move. */
  def registry: Seq[Family] = Seq(
    Family(Dedup.BandIndex.kind, Dedup.BandIndex.version, Seq(
      "minhash_k" -> Dedup.MinHashK.toString,
      "bands" -> Dedup.Bands.toString,
      "shingle_words" -> Dedup.ShingleWords.toString,
      "perm_family" -> permSample)),
    Family(FuzzySearch.FuzzyLsh.kind, FuzzySearch.FuzzyLsh.version, Seq(
      "hashes" -> FuzzySearch.FuzzyLshHashes.toString,
      "rows_per_band" -> FuzzySearch.FuzzyLshRows.toString,
      "perm_family" -> permSample)),
    Family("graft_labels", Dedup.LabelsVersion, Seq(
      "bands_version" -> Dedup.BandsVersion.toString,
      "minhash_k" -> Dedup.MinHashK.toString,
      "bands" -> Dedup.Bands.toString,
      "shingle_words" -> Dedup.ShingleWords.toString,
      "perm_family" -> permSample)),
    Family(CorpusPrep.DocBase.kind, CorpusPrep.DocBase.version, Seq(
      // the round-14 hash-space rule: identity-bearing joins live in the
      // 64-bit space; flipping this back to polyHash is a version bump
      "identity_hash" -> "xxhash64")),
    Family(CorpusPrep.DocWins.kind, CorpusPrep.DocWins.version, Seq(
      "identity_hash" -> "xxhash64")),
    Family("graft_docglobal", CorpusPrep.DocGlobalVersion, Seq(
      "identity_hash" -> "xxhash64",
      "docbase_version" -> CorpusPrep.DocBaseVersion.toString,
      "docwins_version" -> CorpusPrep.DocWinsVersion.toString,
      "bands_version" -> Dedup.BandsVersion.toString,
      "minhash_k" -> Dedup.MinHashK.toString,
      "perm_family" -> permSample)),
    // trained codebooks: iters/mod/ncells live in the kind, but the Lloyd
    // quantization scale and the mean convention (spherical unit-normalized)
    // are invisible — exactly the class the correlated-seed labels bug
    // exploited. The trained-assigned codes artifact couples to the
    // training version the same invisible way.
    Family("graft_kmeans", KMeans.TrainedCentroidsVersion, Seq(
      "quant_scale" -> KMeans.QuantScale.toString,
      "mean" -> "spherical-unit-normalized")),
    Family("graft_ivfpq_t", 1, Seq(
      "kmeans_version" -> KMeans.TrainedCentroidsVersion.toString,
      "quant_scale" -> KMeans.QuantScale.toString,
      "train_iters" -> Similarity.AnnTrainIters.toString)))
}
