package graft.ext

/** Deterministic random hyperplanes for sign-projection LSH / binary codes,
  * shared by [[Similarity]] (qs02) and [[Embeddings]] (qe02).
  *
  * Round 5's ANN probe measured the old chained-LCG lattice drifting from
  * the N/2^planes occupancy expectation as plane count grew (observed mean
  * 70.9 vs 48.8 expected at 12 planes): plane j+1's components were an
  * affine shift of plane j's, so plane SIGNS correlated. The fix is
  * independent per-plane seeds pushed through a splitmix64 avalanche:
  * s_j = mix(seed + j), component value = top 16 bits of mix(s_j + i).
  * No affine relation survives the double avalanche, so plane signs
  * decorrelate and occupancy tracks N/2^planes at high plane counts
  * (re-measured in ANN_PROBE_r12.json, recorded in BASELINE.md).
  *
  * The raw lattice is then ORTHOGONALIZED (classical Gram–Schmidt, plane j
  * against planes 0..j−1 — prefix-stable, so plane j is the same vector
  * whatever the total plane count): pairwise cosines of random directions
  * in 64-dim are ~N(0, 1/64), and those residual angles correlate sign
  * bits enough to empty ~13% of cells at 12 planes even with perfect
  * seeds. Orthogonal normals make the per-plane dots uncorrelated for
  * centered data, so bucket occupancy tracks N/2^planes — the property
  * the ANN_PROBE artifacts record. Requires planes ≤ dim (64): true of every config
  * here and of the 20–24-plane 100 TB sizing.
  *
  * Exactness: orthogonalization runs ONCE in Scala doubles; both engines
  * then receive the SAME finished constants — Spark as `typedLit` double
  * arrays, DuckDB as list literals printed via BigDecimal's EXACT finite
  * decimal expansion of each double (every binary double has one, and
  * DuckDB's correctly-rounded parse returns the identical bits). Neither
  * engine regenerates or re-derives anything at run time, which is what
  * keeps the sign-projection gates hash-exact.
  */
private[graft] object Hyperplanes {

  /** splitmix64 finalizer (Steele/Lea/Flood's public constants). */
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Raw lattice component for (plane j, dim i) under `seed`: the top 16
    * bits of mix(mix(seed + j) + i), centered to [−0.5, 0.5). */
  private def rawComponent(seed: Long, j: Int, i: Int): Double = {
    val sj = mix(seed + j) // independent per-plane seed
    (((mix(sj + i) >>> 48) & 0xFFFFL).toInt - 32768).toDouble / 65536.0
  }

  /** The first `numPlanes` orthogonalized planes (rows) for `seed`.
    * Deterministic pure function of (seed, numPlanes, dim); cheap
    * (numPlanes² · dim flops at plan-build time, never per row). */
  def doublePlanes(seed: Long, numPlanes: Int, dim: Int): Array[Array[Double]] = {
    require(numPlanes <= dim, s"orthogonal planes need numPlanes <= dim=$dim")
    val p = Array.tabulate(numPlanes, dim)((j, i) => rawComponent(seed, j, i))
    for (j <- 0 until numPlanes; k <- 0 until j) {
      var num = 0.0; var den = 0.0; var i = 0
      while (i < dim) { num += p(j)(i) * p(k)(i); den += p(k)(i) * p(k)(i); i += 1 }
      val c = num / den
      i = 0
      while (i < dim) { p(j)(i) -= c * p(k)(i); i += 1 }
    }
    p
  }

  /** Plane j as a double array for `typedLit`. */
  def plane(seed: Long, j: Int, numPlanes: Int, dim: Int): Array[Double] =
    doublePlanes(seed, numPlanes, dim)(j)

  /** DuckDB list literal carrying every component's exact finite decimal
    * (BigDecimal(double) is the double's exact value by definition). */
  def sqlList(seed: Long, j: Int, numPlanes: Int, dim: Int): String =
    plane(seed, j, numPlanes, dim)
      .map(d => new java.math.BigDecimal(d).toPlainString)
      .mkString("[", ", ", "]")
}
