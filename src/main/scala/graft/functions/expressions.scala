package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot similarity/hash kernels
  * (SURVEY §7.3: "distance / hash kernels: udf → promote to Catalyst
  * Expression with codegen only if the bench demands" — the sf0.1
  * bench demanded: the zip_with/aggregate forms re-allocated
  * intermediate arrays per pair and re-computed norms per candidate,
  * dominating the dedup/similarity bench at 84 s).
  *
  * CosineSimilarity generates a single fused loop (dot + both norms in
  * one traversal, no allocation) inside whole-stage codegen. Every
  * other kernel generates a single static call into [[Kernels]] (Scala
  * object static forwarders are Janino-visible), so the surrounding
  * stage stays in whole-stage codegen — no CodegenFallback row
  * materialization anywhere in the expression surface. Reference
  * objects (stopword/marker sets) ship through the codegen references
  * array, once per plan.
  */
object expressions {

  private def elemAt(arr: ArrayData, et: DataType, i: Int): Double = et match {
    case DoubleType => arr.getDouble(i)
    case FloatType  => arr.getFloat(i).toDouble
    case LongType   => arr.getLong(i).toDouble
    case IntegerType => arr.getInt(i).toDouble
    case other => throw new IllegalArgumentException(s"unsupported element type $other")
  }

  /** cos(a, b) in one fused loop; 0.0 for zero-norm inputs. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xa = a.asInstanceOf[ArrayData]
      val xb = b.asInstanceOf[ArrayData]
      val (ta, tb) = (elemType(left), elemType(right))
      val n = math.min(xa.numElements(), xb.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val va = elemAt(xa, ta, i)
        val vb = elemAt(xb, tb, i)
        dot += va * vb; na += va * va; nb += vb * vb
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        def get(arr: String, et: DataType, i: String): String = et match {
          case DoubleType  => s"$arr.getDouble($i)"
          case FloatType   => s"(double) $arr.getFloat($i)"
          case LongType    => s"(double) $arr.getLong($i)"
          case IntegerType => s"(double) $arr.getInt($i)"
          case other => throw new IllegalArgumentException(s"unsupported $other")
        }
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
        val va = ctx.freshName("va"); val vb = ctx.freshName("vb")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $va = ${get(a, elemType(left), i)};
           |  double $vb = ${get(b, elemType(right), i)};
           |  $dot += $va * $vb; $na += $va * $va; $nb += $vb * $vb;
           |}
           |${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0
           |  : $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Σ aᵢ·bᵢ in one fused codegen loop. */
  case class DotProduct(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xa = a.asInstanceOf[ArrayData]; val xb = b.asInstanceOf[ArrayData]
      val (ta, tb) = (elemType(left), elemType(right))
      val n = math.min(xa.numElements(), xb.numElements())
      var dot = 0.0; var i = 0
      while (i < n) { dot += elemAt(xa, ta, i) * elemAt(xb, tb, i); i += 1 }
      dot
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        def get(arr: String, et: DataType, i: String): String = et match {
          case DoubleType  => s"$arr.getDouble($i)"
          case FloatType   => s"(double) $arr.getFloat($i)"
          case LongType    => s"(double) $arr.getLong($i)"
          case IntegerType => s"(double) $arr.getInt($i)"
          case other => throw new IllegalArgumentException(s"unsupported $other")
        }
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        s"""
           |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  $dot += ${get(a, elemType(left), i)} * ${get(b, elemType(right), i)};
           |}
           |${ev.value} = $dot;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  private def hash64(s: UTF8String, seed: Long): Long = Kernels.hash64(s, seed)

  /** MinHash signature of a string-array column: element i is the min
    * over shingles of the i-th derived hash (one strong base hash per
    * shingle + splitmix64 per-seed derivation — Kernels.scala). Per-row
    * loop — no explode, no shuffle, no 64-column aggregate (the
    * column-function formulation shuffled every exploded shingle).
    * Generated code is a single static kernel call: stays inside
    * whole-stage codegen without CodegenFallback's row
    * materialization. */
  case class MinHashSignature(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Kernels.minhashSignature(v.asInstanceOf[ArrayData], numHashes)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.minhashSignature($c, $numHashes);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** LSH band hashes straight from tokens-derived minhashes: element b
    * of the result is a 64-bit hash of signature rows [b·r, (b+1)·r).
    * Fusing banding into the expression (rather than slicing the
    * signature with column lambdas) matters because CollapseProject
    * inlines single-reference aliases — the column formulation
    * re-computed the whole signature once per band. Same static-call
    * codegen as MinHashSignature. */
  case class MinHashBands(child: Expression, numHashes: Int, bands: Int)
      extends UnaryExpression {
    require(numHashes % bands == 0, "bands must divide numHashes")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Kernels.minhashBands(v.asInstanceOf[ArrayData], numHashes, bands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.minhashBands($c, $numHashes, $bands);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Distinct word k-gram shingles of a token array (order of first
    * occurrence, matching `array_distinct`). A native expression
    * because the higher-order-function formulation
    * (`transform(sequence(...), i => concat_ws(slice(toks, i, k)))`)
    * re-evaluates the token-producing subtree — two regexes + split —
    * for EVERY element index: ~45× per document, which made bare
    * shingle scans take 10+ s at sf0.1. Here the tokens child is
    * evaluated exactly once per row. */
  case class ShingleSet(child: Expression, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Kernels.shingles(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.shingles($c, $k);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Non-distinct word k-grams of a token array, position order kept
    * (multiplicity matters to an n-gram LM; [[ShingleSet]] is the
    * distinct variant). Same static-call codegen, same rationale: a
    * higher-order-function formulation re-evaluates the token child
    * per element. */
  case class NGrams(child: Expression, k: Int) extends UnaryExpression {
    require(k > 0)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Kernels.ngrams(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.ngrams($c, $k);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Overlapping token windows for RAG/embedding chunking — see
    * Kernels.tokenChunks for the boundary rule. Static-call codegen. */
  case class TokenChunks(child: Expression, size: Int, stride: Int)
      extends UnaryExpression {
    require(size > 0 && stride > 0, "size and stride must be positive")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Kernels.tokenChunks(v.asInstanceOf[ArrayData], size, stride)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.tokenChunks($c, $size, $stride);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** 64-bit SimHash of a string-array column: one pass over tokens,
    * ±1 vote per bit, sign → bit. Static-call codegen. */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      java.lang.Long.valueOf(Kernels.simhash64(v.asInstanceOf[ArrayData]))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.simhash64($c);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Multi-band hyperplane LSH signatures for cosine similarity:
    * element b of the result is the `bits`-bit sign-signature of band b,
    * under pseudo-random hyperplanes derived from splitmix64(seed, plane,
    * element). OR-amplification across bands drives recall: a pair at
    * angle θ collides in one band with p = (1 − θ/π)^bits, and is missed
    * by all of them with (1 − p)^bands — at cos 0.9, bits=4, bands=8
    * that is ~2·10⁻³, and ~10⁻¹² for near-identical copies.
    *
    * One fused pass over the vector for ALL bands × bits (the Column-
    * arithmetic formulation re-traversed the vector once per plane);
    * planes are hash-derived on the fly, never materialized, so the
    * expression ships to a 1000-executor cluster as pure code. */
  case class HyperplaneBands(child: Expression, bits: Int, bands: Int, seed: Int)
      extends UnaryExpression {
    require(bits > 0 && bits <= 63, "bits must be in [1, 63]")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    // element type resolved at plan time → a literal in the generated
    // code; same static-call shape as the other five kernels (hashes
    // are unchanged: Kernels.hyperplaneBands is the former eval loop,
    // moved verbatim)
    private def typeCode: Int =
      child.dataType.asInstanceOf[ArrayType].elementType match {
        case DoubleType  => 0
        case FloatType   => 1
        case LongType    => 2
        case IntegerType => 3
        case other => throw new IllegalArgumentException(s"unsupported element type $other")
      }
    override def nullSafeEval(v: Any): Any =
      Kernels.hyperplaneBands(v.asInstanceOf[ArrayData], typeCode, bits, bands, seed)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.hyperplaneBands($c, $typeCode, $bits, $bands, $seed);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** 128-bit SimHash of a string-array column: two independent 64-bit
    * token hashes vote per bit; result = [bits 0–63, bits 64–127].
    * Static-call codegen like SimHash64 — see Kernels.simhash128 for
    * why the wider signature exists (fixed-radius recall at scale). */
  case class SimHash128(child: Expression) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Kernels.simhash128(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.simhash128($c);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Winnowing document fingerprint over a token array: polynomial
    * rolling hash of every k-token gram (h = Σ codepoint·257^i mod
    * 2³¹−1 — public arithmetic, so the DuckDB oracle replicates it
    * bit-for-bit in SQL), then the classic winnowing step: sliding
    * window of `w` consecutive gram hashes, keep each window's minimum,
    * fingerprint = the distinct selected values. Emits
    * (n_grams, n_fp, fp_sum) — count and exact sum of the fingerprint
    * set — which pins the whole computation for the oracle without
    * emitting an array column. One pass per row, no shuffle. */
  case class WinnowFingerprint(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    require(k > 0 && w > 0)
    override def dataType: DataType = StructType(Seq(
      StructField("n_grams", LongType, nullable = false),
      StructField("n_fp", LongType, nullable = false),
      StructField("fp_sum", LongType, nullable = false)))
    override def nullSafeEval(v: Any): Any =
      Kernels.winnowFingerprint(v.asInstanceOf[ArrayData], k, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.winnowFingerprint($c, $k, $w);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** [[WinnowFingerprint]]'s set-emitting twin: the distinct selected
    * window-min hashes as an array, for CROSS-document overlap joins
    * (substring-duplication detection) where the summary struct isn't
    * enough. Same arithmetic, same one pass per row. */
  case class WinnowFingerprintSet(child: Expression, k: Int, w: Int)
      extends UnaryExpression {
    require(k > 0 && w > 0)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      Kernels.winnowFingerprintSet(v.asInstanceOf[ArrayData], k, w)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.winnowFingerprintSet($c, $k, $w);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Single-pass token statistics over a token array: token count,
    * BPE-ish subword estimate (Σ max(1, ⌈len/4⌉)), stopword hits, and
    * total word length. One loop per row — the higher-order-function
    * formulation (filter/aggregate lambdas) re-evaluates the token
    * array per ELEMENT, making quality scoring quadratic per document
    * (~2.7 ms/doc at 300 tokens; this kernel is ~µs). */
  case class TextStats(child: Expression, stopwords: Seq[String])
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_subwords", LongType, nullable = false),
      StructField("stop_hits", IntegerType, nullable = false),
      StructField("word_len_sum", LongType, nullable = false)))
    // the set ships to executors through the codegen references array
    // (one object per plan, not per row)
    @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
      val s = new java.util.HashSet[UTF8String]()
      stopwords.foreach(w => s.add(UTF8String.fromString(w)))
      s
    }
    override def nullSafeEval(v: Any): Any =
      Kernels.textStats(v.asInstanceOf[ArrayData], stopSet)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.textStats($c, $ref);")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Token-repetition statistics in one pass (Gopher-style repetition
    * filters): distinct-token count, the modal bigram's occurrence
    * count, and how many trigram positions hold a trigram that occurs
    * more than once. HashMap-counted per row — no shuffle, no per-pair
    * work; the ratios downstream are plain arithmetic. */
  case class RepetitionStats(child: Expression)
      extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("top_bigram", IntegerType, nullable = false),
      StructField("dup_trigram_pos", IntegerType, nullable = false)))
    override def nullSafeEval(v: Any): Any =
      Kernels.repetitionStats(v.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.repetitionStats($c);")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** Marker-word hit counts for several language profiles in one pass
    * over the token array: element i of the result is how many tokens
    * are in profile i. Replaces per-profile `filter` lambdas (each of
    * which re-evaluates the token split per element). */
  case class MarkerCounts(child: Expression, profiles: Seq[Seq[String]])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    @transient private lazy val sets: Array[java.util.HashSet[UTF8String]] =
      profiles.map { p =>
        val s = new java.util.HashSet[UTF8String]()
        p.foreach(w => s.add(UTF8String.fromString(w)))
        s
      }.toArray
    override def nullSafeEval(v: Any): Any =
      Kernels.markerCounts(v.asInstanceOf[ArrayData], sets)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("profileSets", sets, "java.util.HashSet[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.functions.Kernels.markerCounts($c, $ref);")
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** PQ ADC score: Σ over subspaces of the query's lookup-table entry
    * for the corpus vector's code — `lut[sub·ksub + codes[sub]]`.
    * Static-call codegen (Kernels.pqAdc): the ADC scan is the PQ hot
    * loop; it must stay inside whole-stage codegen and never touch the
    * original vectors. */
  case class PqAdc(left: Expression, right: Expression, ksub: Int)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(codes: Any, lut: Any): Any =
      Kernels.pqAdc(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData], ksub)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (c, l) =>
        s"${ev.value} = graft.functions.Kernels.pqAdc($c, $l, $ksub);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
  }

  /** Morton/Z-order bit interleave of pre-scaled per-dimension ranks.
    * Static-call codegen (Kernels.interleaveBits) — runs per row inside
    * whole-stage codegen on the write path of a Z-clustered layout. */
  case class InterleaveBits(child: Expression, bits: Int)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(ranks: Any): Any =
      Kernels.interleaveBits(ranks.asInstanceOf[ArrayData], bits)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c =>
        s"graft.functions.Kernels.interleaveBits($c, $bits)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  /** [[Kernels.sortPrefix]] of a binary value: the 8-byte order key
    * the flat layout buckets string and binary indexes by. */
  case class SortPrefix(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(b: Any): Any = Kernels.sortPrefix(b.asInstanceOf[Array[Byte]])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"graft.functions.Kernels.sortPrefix($c)")
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
  }

  // ------------------------------------------------------ Column sugar

  def shingle_set(tokens: Column, k: Int): Column = column(ShingleSet(expression(tokens), k))
  def ngram_list(tokens: Column, k: Int): Column = column(NGrams(expression(tokens), k))
  def token_chunks(tokens: Column, size: Int, stride: Int): Column =
    column(TokenChunks(expression(tokens), size, stride))
  def minhash_bands(tokens: Column, numHashes: Int, bands: Int): Column =
    column(MinHashBands(expression(tokens), numHashes, bands))
  def cosine_sim(a: Column, b: Column): Column = column(CosineSimilarity(expression(a), expression(b)))
  def dot_product(a: Column, b: Column): Column = column(DotProduct(expression(a), expression(b)))
  def minhash_signature(tokens: Column, k: Int): Column = column(MinHashSignature(expression(tokens), k))
  def simhash64(tokens: Column): Column = column(SimHash64(expression(tokens)))
  def simhash128(tokens: Column): Column = column(SimHash128(expression(tokens)))
  def hyperplane_bands(vec: Column, bits: Int, bands: Int, seed: Int = 42): Column =
    column(HyperplaneBands(expression(vec), bits, bands, seed))
  def repetition_stats(tokens: Column): Column =
    column(RepetitionStats(expression(tokens)))
  def winnow_fp(tokens: Column, k: Int, w: Int): Column =
    column(WinnowFingerprint(expression(tokens), k, w))
  def winnow_fp_set(tokens: Column, k: Int, w: Int): Column =
    column(WinnowFingerprintSet(expression(tokens), k, w))
  def text_stats(tokens: Column, stopwords: Seq[String]): Column =
    column(TextStats(expression(tokens), stopwords))
  def marker_counts(tokens: Column, profiles: Seq[Seq[String]]): Column =
    column(MarkerCounts(expression(tokens), profiles))
  def interleave_bits(ranks: Column, bits: Int): Column =
    column(InterleaveBits(expression(ranks), bits))
  def sort_prefix(bytes: Column): Column = column(SortPrefix(expression(bytes)))
}
