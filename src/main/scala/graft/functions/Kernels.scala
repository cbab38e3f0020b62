package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Static per-row kernels behind the native hash expressions.
  *
  * Two jobs: (1) hold the loop bodies in ONE place so the expressions'
  * interpreted `eval` and their generated code run the same bytes —
  * `doGenCode` emits a single static call (Scala object static
  * forwarders are Janino-visible), which keeps the surrounding stage
  * in whole-stage codegen WITHOUT the CodegenFallback detour
  * (fallback materializes an InternalRow and boxes the result per
  * call); (2) make the minhash loop cheap: ONE strong 64-bit string
  * hash per shingle, with the k "permutations" derived by a splitmix64
  * stream over it (the standard one-hash/k-derived minhash recipe) —
  * the per-seed formulation re-ran two Murmur passes over the shingle
  * bytes for every one of the 64 seeds, ~64× the string hashing.
  */
object Kernels {

  /** xxhash-style 64-bit string hash built from Spark's unsafe Murmur3
    * plus a 64-bit finalizer — stable, seedable, no allocation. */
  def hash64(s: UTF8String, seed: Long): Long = {
    val h1 = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed.toInt)
    val h2 = Murmur3_x86_32.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, (seed >>> 32).toInt ^ 0x9e3779b9)
    var x = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33
    x
  }

  /** splitmix64 finalizer — the per-seed derivation. */
  @inline private def mix64(v: Long): Long = {
    var z = v
    z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
    z ^= z >>> 27; z *= 0x94d049bb133111ebL
    z ^= z >>> 31
    z
  }

  private def minhashInto(arr: ArrayData, sig: Array[Long]): Unit = {
    java.util.Arrays.fill(sig, Long.MaxValue)
    val k = sig.length
    var j = 0
    while (j < arr.numElements()) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val base = hash64(s, 0L)
        var i = 0
        while (i < k) {
          val h = mix64(base + (i + 1).toLong * 0x9e3779b97f4a7c15L)
          if (h < sig(i)) sig(i) = h
          i += 1
        }
      }
      j += 1
    }
  }

  def minhashSignature(arr: ArrayData, numHashes: Int): ArrayData = {
    val sig = new Array[Long](numHashes)
    minhashInto(arr, sig)
    ArrayData.toArrayData(sig)
  }

  def minhashBands(arr: ArrayData, numHashes: Int, bands: Int): ArrayData = {
    val r = numHashes / bands
    val sig = new Array[Long](numHashes)
    minhashInto(arr, sig)
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var x = 0x9e3779b97f4a7c15L ^ b.toLong
      var i = 0
      while (i < r) {
        x ^= sig(b * r + i)
        x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
        x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
        x ^= x >>> 33
        i += 1
      }
      out(b) = x
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  def simhash64(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    var j = 0
    while (j < arr.numElements()) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val h = hash64(s, 42L)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) != 0L) votes(i) += 1 else votes(i) -= 1
          i += 1
        }
      }
      j += 1
    }
    var out = 0L; var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  }

  /** 128-bit SimHash: two independent 64-bit token hashes (seeds 42 /
    * 1337) vote per bit; result = [bits 0–63, bits 64–127]. Twice the
    * signature width doubles the expected Hamming distance of UNRELATED
    * pairs (≈64 vs ≈32) while near-dup distances stay proportional to
    * the changed-token share — the wider gap is what lets a fixed
    * radius cover every qualifying pair at sf0.1, where the 64-bit
    * radius-6 scheme left a 12-of-311 recall tail. */
  def simhash128(arr: ArrayData): ArrayData = {
    val votes = new Array[Int](128)
    var j = 0
    while (j < arr.numElements()) {
      val s = arr.getUTF8String(j)
      if (s != null) {
        val h0 = hash64(s, 42L)
        val h1 = hash64(s, 1337L)
        var i = 0
        while (i < 64) {
          if (((h0 >>> i) & 1L) != 0L) votes(i) += 1 else votes(i) -= 1
          if (((h1 >>> i) & 1L) != 0L) votes(64 + i) += 1 else votes(64 + i) -= 1
          i += 1
        }
      }
      j += 1
    }
    val out = new Array[Long](2)
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) out(0) |= (1L << i)
      if (votes(64 + i) > 0) out(1) |= (1L << i)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Multi-band hyperplane-LSH signatures — the loop body of
    * expressions.HyperplaneBands as a static call, so the banding scan
    * stays inside whole-stage codegen. `typeCode` fixes the array
    * element type at plan time: 0=double, 1=float, 2=long, 3=int.
    * Arithmetic is bit-identical to the former interpreted eval
    * (splitmix64 finalizer over a linear combine of (seed, plane,
    * element index); top-53-bit weight uniform in [-1, 1)). */
  def hyperplaneBands(arr: ArrayData, typeCode: Int, bits: Int,
                      bands: Int, seed: Int): ArrayData = {
    val m = bands * bits
    val proj = new Array[Double](m)
    val n = arr.numElements()
    var j = 0
    while (j < n) {
      val x = typeCode match {
        case 0 => arr.getDouble(j)
        case 1 => arr.getFloat(j).toDouble
        case 2 => arr.getLong(j).toDouble
        case _ => arr.getInt(j).toDouble
      }
      var p = 0
      while (p < m) {
        var z = seed.toLong * 0x9e3779b97f4a7c15L +
          p.toLong * 0xbf58476d1ce4e5b9L + j.toLong * 0x94d049bb133111ebL
        z ^= z >>> 30; z *= 0xbf58476d1ce4e5b9L
        z ^= z >>> 27; z *= 0x94d049bb133111ebL
        z ^= z >>> 31
        proj(p) += x * ((z >>> 11).toDouble / (1L << 52).toDouble - 1.0)
        p += 1
      }
      j += 1
    }
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var sig = 0L; var i = 0
      while (i < bits) {
        if (proj(b * bits + i) >= 0.0) sig |= (1L << i)
        i += 1
      }
      out(b) = sig
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  /** PQ asymmetric-distance (ADC) score: Σ_m lut[m·ksub + codes[m]].
    * `lut` is a query's flattened (subspace-major) lookup table of
    * partial dot products against every codebook centroid; `codes` is a
    * corpus vector's per-subspace centroid ids. One add per subspace —
    * the whole point of PQ is that the scan never touches vectors. */
  def pqAdc(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    val n = lut.numElements()
    var acc = 0.0
    var i = 0
    while (i < m) {
      val c = codes.getInt(i)
      val j = i * ksub + c
      // bounds-checked: UnsafeArrayData.getDouble would silently read
      // arbitrary memory for a code >= ksub or an undersized lut (the
      // function is SQL-exposed as graft_pq_adc — garbage in must
      // error, not produce plausible wrong scores)
      if (c < 0 || c >= ksub || j >= n)
        throw new IllegalArgumentException(
          s"pq_adc: code $c at subspace $i out of range (ksub=$ksub, lut size=$n)")
      acc += lut.getDouble(j)
      i += 1
    }
    acc
  }

  /** The first 8 bytes of `b` as a big-endian long, zero-padded, with
    * the sign bit flipped so signed long order equals unsigned
    * byte-lexicographic order: monotone, not strict, in Spark's binary
    * ordering (values sharing an 8-byte prefix map to one long). */
  def sortPrefix(b: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (if (i < b.length) b(i) & 0xffL else 0L)
      i += 1
    }
    v ^ Long.MinValue
  }

  /** Morton/Z-order interleave: bit i of dimension j lands at position
    * i·d + j, so a sort by the result alternates locality across ALL
    * dimensions (the space-filling-curve layout multi-column row-group
    * pruning needs). Caller contract: ranks are non-negative and fit
    * in `bits`; d·bits ≤ 63. */
  def interleaveBits(ranks: ArrayData, bits: Int): Long = {
    val d = ranks.numElements()
    var z = 0L
    var j = 0
    while (j < d) {
      val v = ranks.getLong(j)
      var i = 0
      while (i < bits) {
        z |= ((v >>> i) & 1L) << (i * d + j)
        i += 1
      }
      j += 1
    }
    z
  }

  private val ShingleSpace = UTF8String.fromString(" ")

  def shingles(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new java.util.LinkedHashSet[UTF8String]()
    if (n < k) {
      out.add(UTF8String.concatWs(ShingleSpace, toks: _*))
    } else {
      var s = 0
      while (s + k <= n) {
        val parts = new Array[UTF8String](k)
        var j = 0
        while (j < k) { parts(j) = toks(s + j); j += 1 }
        out.add(UTF8String.concatWs(ShingleSpace, parts: _*))
        s += 1
      }
    }
    ArrayData.toArrayData(out.toArray(new Array[UTF8String](out.size())))
  }

  /** Non-distinct space-joined word k-grams, in position order — the
    * multiplicity-preserving sibling of [[shingles]] (an n-gram
    * language model counts every occurrence; a Jaccard shingle set
    * does not). Empty array when the document is shorter than k. */
  def ngrams(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return ArrayData.toArrayData(new Array[UTF8String](0))
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val out = new Array[UTF8String](n - k + 1)
    var s = 0
    while (s + k <= n) {
      val parts = new Array[UTF8String](k)
      var j = 0
      while (j < k) { parts(j) = toks(s + j); j += 1 }
      out(s) = UTF8String.concatWs(ShingleSpace, parts: _*)
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Overlapping fixed-size token windows (RAG/embedding chunking):
    * chunk i covers tokens [i·stride, i·stride+size), space-joined.
    * Chunking stops once a chunk reaches the document end — the
    * standard rule, so no trailing chunk is a strict subrange of its
    * predecessor: a doc of n ≤ size tokens is exactly one chunk, else
    * ⌈(n−size)/stride⌉ + 1 chunks, and with stride ≤ size every token
    * belongs to at least one. One pass per row. */
  def tokenChunks(arr: ArrayData, size: Int, stride: Int): ArrayData = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val nChunks =
      if (n == 0) 0
      else if (n <= size) 1
      else (n - size + stride - 1) / stride + 1
    val out = new Array[UTF8String](nChunks)
    var c = 0
    while (c < nChunks) {
      val start = c * stride
      val end = math.min(start + size, n)
      val parts = new Array[UTF8String](end - start)
      var j = start
      while (j < end) { parts(j - start) = toks(j); j += 1 }
      out(c) = UTF8String.concatWs(ShingleSpace, parts: _*)
      c += 1
    }
    ArrayData.toArrayData(out)
  }

  // ------------------------------------------------------- winnowing

  private val WinnowM = 2147483647L // 2^31 - 1
  private val WinnowB = 257L

  /** Polynomial rolling hash h = Σ codepoint·257^i mod 2³¹−1 — public
    * arithmetic the DuckDB oracle replicates bit-for-bit in SQL. */
  private def winnowPolyHash(s: String): Long = {
    var h = 0L
    val it = s.codePoints().iterator()
    while (it.hasNext) h = (h * WinnowB + it.next().intValue()) % WinnowM
    h
  }

  /** Classic winnowing selection over a token array: hash every k-token
    * gram, slide a w-window over the gram hashes, keep each window's
    * minimum; returns (n_grams, distinct selected hashes in first-seen
    * order). Shared core of the two winnow kernels. */
  private def winnowSelect(arr: ArrayData, k: Int, w: Int): (Int, java.util.LinkedHashSet[java.lang.Long]) = {
    val n = arr.numElements()
    val toks = Array.tabulate(n)(i => arr.getUTF8String(i).toString)
    val grams: Array[Long] =
      if (n < k) Array(winnowPolyHash(toks.mkString(" ")))
      else Array.tabulate(n - k + 1)(i => winnowPolyHash(toks.slice(i, i + k).mkString(" ")))
    val nWin = math.max(grams.length - w + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < nWin) {
      var m = Long.MaxValue
      var j = i
      val end = math.min(i + w, grams.length)
      while (j < end) { if (grams(j) < m) m = grams(j); j += 1 }
      seen.add(m)
      i += 1
    }
    (grams.length, seen)
  }

  /** Winnow summary (n_grams, n_fp, fp_sum) — pins the computation for
    * the oracle without emitting an array column. */
  def winnowFingerprint(arr: ArrayData, k: Int, w: Int): InternalRow = {
    val (nGrams, seen) = winnowSelect(arr, k, w)
    var fpSum = 0L
    val it = seen.iterator()
    while (it.hasNext) fpSum += it.next()
    InternalRow(nGrams.toLong, seen.size.toLong, fpSum)
  }

  /** Winnow fingerprint SET — the distinct selected window-min hashes,
    * for cross-document overlap joins. */
  def winnowFingerprintSet(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val (_, seen) = winnowSelect(arr, k, w)
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    ArrayData.toArrayData(out)
  }

  // ---------------------------------------------------- text analysis

  /** Single-pass token statistics: (n_tokens, Σ max(1,⌈len/4⌉) subword
    * estimate, stopword hits, total word length). */
  def textStats(arr: ArrayData, stopSet: java.util.HashSet[UTF8String]): InternalRow = {
    val n = arr.numElements()
    var sub = 0L; var stop = 0; var lenSum = 0L
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val len = s.numChars()
        lenSum += len
        sub += math.max(1L, math.ceil(len / 4.0).toLong)
        if (stopSet.contains(s.toLowerCase)) stop += 1
      }
      i += 1
    }
    InternalRow(n, sub, stop, lenSum)
  }

  private val BigramSpace = UTF8String.fromString(" ")

  /** Gopher-style repetition statistics in one pass: (n_tokens,
    * n_distinct, modal-bigram count, duplicated-trigram positions). */
  def repetitionStats(arr: ArrayData): InternalRow = {
    val n = arr.numElements()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = arr.getUTF8String(i); i += 1 }
    val distinct = new java.util.HashSet[UTF8String]()
    i = 0
    while (i < n) { if (toks(i) != null) distinct.add(toks(i)); i += 1 }
    var topBigram = 0
    if (n >= 2) {
      val counts = new java.util.HashMap[UTF8String, Int]()
      i = 0
      while (i + 1 < n) {
        val bg = UTF8String.concatWs(BigramSpace, toks(i), toks(i + 1))
        val c = counts.merge(bg, 1, (a, b) => a + b)
        if (c > topBigram) topBigram = c
        i += 1
      }
    }
    var dupTri = 0
    if (n >= 3) {
      val counts = new java.util.HashMap[UTF8String, Int]()
      i = 0
      while (i + 2 < n) {
        counts.merge(UTF8String.concatWs(BigramSpace, toks(i), toks(i + 1), toks(i + 2)),
          1, (a, b) => a + b)
        i += 1
      }
      val it = counts.values().iterator()
      while (it.hasNext) { val c = it.next(); if (c > 1) dupTri += c }
    }
    InternalRow(n, distinct.size(), topBigram, dupTri)
  }

  /** Marker-word hit counts for several language profiles in one pass:
    * element p of the result is how many tokens are in profile p. */
  def markerCounts(arr: ArrayData, sets: Array[java.util.HashSet[UTF8String]]): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Int](sets.length)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        var p = 0
        while (p < sets.length) {
          if (sets(p).contains(s)) out(p) += 1
          p += 1
        }
      }
      i += 1
    }
    ArrayData.toArrayData(out)
  }
}
