package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Hash kernels invoked from codegen via `StaticInvoke` — one fused pass
  * per row instead of the O(bits × tokens) nested higher-order-function
  * expansion the same logic would cost in SQL. Deterministic (seeded
  * xxHash64 / splitmix64), so results are stable across runs, partitions
  * and cluster sizes.
  */
object GraftHash {

  /** 64-bit SimHash over a token array: per-bit majority vote of the
    * tokens' xxHash64 bits. Near-identical token multisets → small Hamming
    * distance. */
  def simhash64(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val s: UTF8String = tokens.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
          s.numBytes, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  /** MinHash signature: k per-seed minima of xxHash64 over the shingle
    * set, computed in ONE pass over the shingles (the equivalent nested
    * higher-order-function formulation is interpreted and allocates a
    * fresh k-array per shingle — ~50× slower at corpus scale). */
  def minhashSig(shingles: ArrayData, k: Int): ArrayData = {
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s: UTF8String = shingles.getUTF8String(i)
        var j = 0
        while (j < k) {
          val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset,
            s.numBytes, j.toLong)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** Portable MinHash signature: position j is the minimum over the
    * shingle set of the first 48 bits of md5("j|shingle"). The md5
    * discipline (same as [[simhashMd5]]) makes every position
    * reproducible in any SQL engine as
    * `min(('0x' || substring(md5(j || '|' || s), 1, 12))::BIGINT)` —
    * so MinHash-banded operators can be oracle-checked value-for-value,
    * not just rows-only. k digests per shingle, one pass; an empty or
    * all-null shingle set yields Long.MaxValue positions (the neutral
    * min element, matching SQL `min()` over zero rows being absorbed by
    * a COALESCE upper bound). */
  def minhashMd5Sig(shingles: ArrayData, k: Int): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        val s = shingles.getUTF8String(i).toString
        var j = 0
        while (j < k) {
          md.reset()
          val d = md.digest((j.toString + "|" + s)
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          var v = 0L
          var b = 0
          while (b < 6) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }

  /** 48-bit fingerprint of every n-token window of `words`, in window
    * order: the first 6 bytes (big-endian) of the md5 of the window's
    * tokens joined by single spaces. Bit-identical to
    * `CAST(conv(substring(md5(array_join(slice(words, i, n), ' ')), 1,
    * 12), 16, 10) AS BIGINT)` for i = 1 .. size(words) - n + 1, null
    * tokens skipped as `array_join` skips them — the fingerprint the
    * DuckDB oracle computes with the same md5 prefix. Fewer than n
    * tokens yield an empty array. Each token's bytes are read once; the
    * digest is fed the window's tokens in place, with no joined string
    * per window. */
  def shingleFingerprints(words: ArrayData, n: Int): ArrayData = {
    val len = words.numElements()
    val m = math.max(len - n + 1, 0)
    val out = new Array[Long](m)
    if (m > 0) {
      val toks = Array.tabulate(len)(i =>
        if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes)
      val md = java.security.MessageDigest.getInstance("MD5")
      var s = 0
      while (s < m) {
        var first = true
        var j = s
        while (j < s + n) {
          if (toks(j) != null) {
            if (!first) md.update(' '.toByte)
            md.update(toks(j))
            first = false
          }
          j += 1
        }
        val d = md.digest()
        var v = 0L
        var b = 0
        while (b < 6) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
        out(s) = v
        s += 1
      }
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  /** Portable 32-bit SimHash: bit j is the majority vote of the MSB of
    * hex nibble j of each token's md5. Unlike [[simhash64]] (xxHash64,
    * engine-internal), every SQL engine with `md5()` + `substr()` can
    * reproduce this bit-for-bit — so the operator is oracle-checkable
    * end-to-end, not just rows-only. One digest per token, one pass. */
  def simhashMd5(tokens: ArrayData): Long = {
    val counts = new Array[Int](32)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        md.reset()
        val digest = md.digest(tokens.getUTF8String(i).getBytes)
        var j = 0
        while (j < 32) {
          val b = digest(j / 2)
          val nibble = if (j % 2 == 0) (b >> 4) & 0xF else b & 0xF
          if ((nibble & 0x8) != 0) counts(j) += 1 else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Portable 64-bit SimHash (r16): bit j is the majority vote of bit
    * j of each token's md5 digest (big-endian — byte j/8, bit 7-(j%8),
    * i.e. hex nibble j/4's bit 3-(j%4)). ONE digest per token — the
    * same hash cost as the 32-bit [[simhashMd5]], which uses only the
    * 32 nibble MSBs of the same 128 bits — and still reproducible on
    * any engine with md5()+substr(): each within-nibble bit is a fixed
    * 8-char membership set over the hex alphabet. The scale-safe
    * headline width: at maxHamming=3 the banded candidate search gets
    * 16-bit chunks, so band collisions run at 2^-16 instead of the
    * 32-bit form's 2^-8 — the q178 sf10sv saturation was exactly that
    * Θ(sigs²/2^8) band-pair tail. */
  def simhashMd5Wide(tokens: ArrayData): Long = {
    val counts = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        md.reset()
        val digest = md.digest(tokens.getUTF8String(i).getBytes)
        var j = 0
        while (j < 64) {
          if (((digest(j >>> 3) >> (7 - (j & 7))) & 1) == 1)
            counts(j) += 1
          else counts(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 64) {
      if (counts(j) > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Random-hyperplane (sign) sketch of a float vector: `bits` Rademacher
    * (±1-entry) hyperplanes derived from `seed`; bit j = sign of the dot
    * product with plane j. Collision probability of two vectors on one bit
    * is 1 - θ/π (θ = angle), the classic cosine-LSH family. */
  def rpSketch(vec: ArrayData, bits: Int, seed: Long): Long = {
    val d = vec.numElements()
    var sig = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var i = 0
      while (i < d) {
        val r = splitmix64(seed + j.toLong * d + i)
        val sign = if ((r & 1L) == 1L) 1.0 else -1.0
        dot += vec.getFloat(i) * sign
        i += 1
      }
      if (dot > 0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Multi-probe bucket sequence for [[rpSketch]] (Lv et al. 2007,
    * VLDB — "Multi-Probe LSH", restricted to Hamming-1 perturbations):
    * the vector's own bucket first, then buckets obtained by flipping
    * one sketch bit in increasing order of |projection margin| — the
    * bits most likely to have landed on the wrong side of their
    * hyperplane for the vector's true neighbors. Probing `probes`
    * buckets multiplies candidates by at most `probes` while recovering
    * most of the recall lost to boundary effects, WITHOUT growing the
    * corpus index (only the query side fans out). */
  def rpSketchProbes(vec: ArrayData, bits: Int, seed: Long,
      probes: Int): ArrayData = {
    val d = vec.numElements()
    val dots = new Array[Double](bits)
    var sig = 0L
    var j = 0
    while (j < bits) {
      var dot = 0.0
      var i = 0
      while (i < d) {
        val r = splitmix64(seed + j.toLong * d + i)
        val sign = if ((r & 1L) == 1L) 1.0 else -1.0
        dot += vec.getFloat(i) * sign
        i += 1
      }
      dots(j) = dot
      if (dot > 0) sig |= (1L << j)
      j += 1
    }
    val order = Array.range(0, bits).sortBy(b => math.abs(dots(b)))
    val n = math.max(1, math.min(probes, bits + 1))
    val out = new Array[Long](n)
    out(0) = sig
    var i = 1
    while (i < n) { out(i) = sig ^ (1L << order(i - 1)); i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** File-path → scan-ordinal interning for deletion-vector application
    * (SnapshotOps.readTagged): the DV filter/anti-join keys on the
    * scanned row's FILE identity, and a ~100-char path string as the
    * per-row key is a measured 7.6× read tax (EqScaleProbe, round 13).
    * `paths` is the scan's plain-spelled file list — a plan-time literal,
    * ONE array object shared by every row — so the lookup map builds
    * once per (thread, array object) and each row pays a single bounded
    * hash probe; the join/InSet key downstream is an integer. Returns
    * -1 for a path outside the list (a DV row naming a file this scan
    * doesn't read — it can match nothing). */
  private final class OrdCache(val paths: ArrayData,
      val map: java.util.HashMap[UTF8String, Integer]) {
    // last-hit memo: a scan's rows arrive file-by-file, so consecutive
    // probes carry the same path — one memcmp replaces the hash probe
    var lastPath: UTF8String = null
    var lastOrd: Int = -1
  }
  private val ordCache = new ThreadLocal[OrdCache]()

  /** Byte-wise dual of `regexp_replace(p, "^file:/+", "/")` — Spark's
    * `_metadata.file_path` spells `file:///x`; manifests and DV rows
    * spell `/x`. */
  private def normPath(p: UTF8String): UTF8String = {
    val n = p.numBytes
    if (n < 6 || p.getByte(0) != 'f' || p.getByte(1) != 'i' ||
        p.getByte(2) != 'l' || p.getByte(3) != 'e' ||
        p.getByte(4) != ':' || p.getByte(5) != '/') return p
    var i = 5
    while (i < n && p.getByte(i) == '/') i += 1
    // keep one leading slash; prefix is pure ASCII so char==byte offsets
    p.substring(i - 1, n)
  }

  /** Membership of `key` in a SORTED long array — the DV literal tier's
    * per-row probe. Binary search over the array: ~15 primitive compares
    * for a 20k-position DV, no boxing, no per-row allocation — measured
    * ~4× cheaper end-to-end than `InSet`'s immutable-set probe (which
    * boxes every key) at that size. */
  def inSortedLongs(key: Long, keys: ArrayData): Boolean = {
    var lo = 0
    var hi = keys.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val v = keys.getLong(mid)
      if (v == key) return true
      else if (v < key) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  def pathOrdinal(path: UTF8String, paths: ArrayData): Int = {
    var c = ordCache.get()
    if (c == null || (c.paths ne paths)) {
      val n = paths.numElements()
      val m = new java.util.HashMap[UTF8String, Integer](n * 2)
      var i = 0
      while (i < n) {
        if (!paths.isNullAt(i)) m.put(paths.getUTF8String(i), i)
        i += 1
      }
      c = new OrdCache(paths, m)
      ordCache.set(c)
    }
    if (c.lastPath != null && c.lastPath.equals(path)) return c.lastOrd
    val r = c.map.get(normPath(path))
    val ord = if (r == null) -1 else r.intValue()
    // memo the RAW spelling (what the next row carries); copy because a
    // columnar reader may reuse the backing buffer across batches
    c.lastPath = path.clone()
    c.lastOrd = ord
    ord
  }
}
