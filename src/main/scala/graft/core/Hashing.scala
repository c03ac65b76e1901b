package graft.core

/** Deterministic 64-bit hashing + MinHash/SimHash signatures.
  *
  * All mixing is splitmix64 (public-domain finalizer, Steele et al.,
  * "Fast Splittable Pseudorandom Number Generators", OOPSLA'14) over an
  * FNV-1a style byte fold — self-contained, seed-stable across JVMs and
  * Spark versions (we deliberately do NOT depend on Spark's internal
  * xxhash so signatures never shift under a Spark upgrade).
  */
object Hashing {

  @inline def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** 64-bit hash of bytes[from, from+len). */
  def hashBytes(bytes: Array[Byte], from: Int, len: Int, seed: Long): Long = {
    var h = seed ^ 0xCBF29CE484222325L
    var i = from
    val end = from + len
    while (i < end) {
      h = (h ^ (bytes(i) & 0xFFL)) * 0x100000001B3L
      i += 1
    }
    splitmix64(h)
  }

  def hashString(s: String, seed: Long): Long = {
    val b = s.getBytes("UTF-8")
    hashBytes(b, 0, b.length, seed)
  }

  /** MinHash signature over character k-shingles of `bytes`.
    * One base hash per shingle, then `numHashes` independent mixes
    * (h_i = splitmix64(h ^ seed_i)) — the standard public construction.
    * Content shorter than k yields a single whole-content shingle.
    */
  def minHashSignature(bytes: Array[Byte], k: Int, numHashes: Int, seed: Long): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val n = bytes.length
    val shingleLen = math.min(k, math.max(n, 1))
    val positions = math.max(n - shingleLen + 1, if (n == 0) 0 else 1)
    if (n == 0) {
      // empty content: signature of the empty shingle
      var j = 0
      while (j < numHashes) { sig(j) = splitmix64(seed + j); j += 1 }
      return sig
    }
    // round 6: hoist the per-j xor seeds (one multiply+add each, computed
    // once instead of once per (position, j)) and inline the splitmix64
    // rounds — identical arithmetic, bit-identical signatures (the DuckDB
    // DuckHash oracles pin this value-level)
    val seeds = new Array[Long](numHashes)
    var s = 0
    while (s < numHashes) { seeds(s) = seed + 0x5851F42D4C957F2DL * (s + 1); s += 1 }
    var i = 0
    while (i < positions) {
      val h = hashBytes(bytes, i, math.min(shingleLen, n - i), seed)
      var j = 0
      while (j < numHashes) {
        var x = (h ^ seeds(j)) + 0x9E3779B97F4A7C15L
        x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
        x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
        x = x ^ (x >>> 31)
        if (x < sig(j)) sig(j) = x
        j += 1
      }
      i += 1
    }
    sig
  }

  /** LSH band hashes: split `sig` into `bands` bands of r = len/bands rows;
    * hash each band slice. Pairs agreeing on ANY band hash become
    * candidates (classic MinHash-LSH banding, Leskovec et al. MMDS ch.3). */
  def bandHashes(sig: Array[Long], bands: Int): Array[Long] = {
    val r = sig.length / bands
    require(r >= 1, s"numHashes=${sig.length} < bands=$bands")
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9E3779B97F4A7C15L * (b + 1)
      var j = b * r
      val end = j + r
      while (j < end) { h = splitmix64(h ^ sig(j)); j += 1 }
      out(b) = h
      b += 1
    }
    out
  }

  /** 64-bit SimHash over whitespace tokens (Charikar 2002): per-token
    * 64-bit hash votes +1/-1 on each bit; sign of the sum gives the bit. */
  def simHash64(text: String, seed: Long): Long = {
    val votes = new Array[Int](64)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || text.charAt(i) == ' ' || text.charAt(i) == '\n' || text.charAt(i) == '\t') {
        if (i > start) {
          val h = hashString(text.substring(start, i), seed)
          var b = 0
          while (b < 64) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim) in
    * [-1, 1): two splitmix64 rounds over (seed, plane, dim). Seedable,
    * identical on every executor, no stored model — and, unlike Spark's
    * internal xxhash64, exactly reproducible in the DuckDB oracle
    * (graft.oracle.DuckHash emits the same arithmetic in SQL). */
  @inline def planeComponent(seed: Long, plane: Int, dim: Int): Double = {
    val h = splitmix64(splitmix64(seed + 0x9E3779B97F4A7C15L * (plane + 1)) ^ (dim + 1).toLong)
    h.toDouble / Long.MaxValue.toDouble
  }

  /** Random-hyperplane (sign) LSH bucket (Charikar, STOC'02): `nPlanes`
    * sign bits of v·plane packed into a long. Vectors with high cosine
    * collide with high probability. Sequential dim-order fold so the
    * DuckDB oracle's list_reduce reproduces the exact IEEE sum. */
  def hyperplaneBucket(v: Array[Double], nPlanes: Int, seed: Long): Long = {
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      while (i < v.length) { dot += v(i) * planeComponent(seed, p, i); i += 1 }
      if (dot >= 0) bucket |= 1L << p
      p += 1
    }
    bucket
  }

  /** Seed for LSH table `t` when banding across multiple independent
    * hyperplane tables (union of per-table candidates raises recall). */
  @inline def tableSeed(seed: Long, table: Int): Long =
    splitmix64(seed + 0x5851F42D4C957F2DL * (table + 1))

  /** The `kHashes` Bloom-filter bit positions of string `s` in an
    * `mBits`-bit filter (mBits a power of two, so the mask is exact in
    * signed and unsigned arithmetic alike): position_j =
    * splitmix64(hashString(s) XOR tableSeed_j) & (mBits - 1) — the same
    * one-base-hash-many-mixes construction as [[minHashSignature]].
    * Mirrored bit-for-bit by the dd13 oracle's UHUGEINT SQL (DuckHash
    * rule: change both together). */
  def bloomPositions(s: String, mBits: Int, kHashes: Int, seed: Long): Array[Long] = {
    val base = hashString(s, seed)
    Array.tabulate(kHashes)(j =>
      splitmix64(base ^ tableSeed(seed, j)) & (mBits - 1).toLong)
  }
}
