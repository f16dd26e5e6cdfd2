package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector hot path.
  *
  * The similarity/dedup operators originally used the higher-order
  * `aggregate`/`zip_with` functions, which evaluate an interpreted
  * lambda per array element — measured 65 s for the sf0.1 all-pairs
  * cosine. These expressions do the same arithmetic (strict
  * left-to-right accumulation, so results stay bit-identical to the
  * oracle's fold) as a primitive double[] loop with full whole-stage
  * codegen — the "custom Expression beats UDF beats driver loop"
  * ladder of the build brief.
  */
object VectorExpressions {

  /** Σ xᵢ·yᵢ over two double arrays, left to right. */
  case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toDoubleArray()
      val y = b.asInstanceOf[ArrayData].toDoubleArray()
      var s = 0.0; var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) { s += x(i) * y(i); i += 1 }
      s
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        val i = ctx.freshName("i"); val n = ctx.freshName("n")
        s"""
        double[] $x = $a.toDoubleArray();
        double[] $y = $b.toDoubleArray();
        int $n = java.lang.Math.min($x.length, $y.length);
        double ${ev.value}_acc = 0.0;
        for (int $i = 0; $i < $n; $i++) ${ev.value}_acc += $x[$i] * $y[$i];
        ${ev.value} = ${ev.value}_acc;
        """
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Σ xᵢ² over a double array, left to right. */
  case class SumSquares(child: Expression)
    extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override protected def nullSafeEval(a: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toDoubleArray()
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * x(i); i += 1 }
      s
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, a => {
        val x = ctx.freshName("x"); val i = ctx.freshName("i")
        s"""
        double[] $x = $a.toDoubleArray();
        double ${ev.value}_acc = 0.0;
        for (int $i = 0; $i < $x.length; $i++) ${ev.value}_acc += $x[$i] * $x[$i];
        ${ev.value} = ${ev.value}_acc;
        """
      })
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-permutation MinHash signature over a string array in one
    * native pass: base polynomial hash per shingle (over UTF-8 bytes,
    * mod 1e9+7), then min over affine permutations h·(2i+3)+(7919i²+13)
    * mod p. One call per row; interpreted eval is fine
    * (CodegenFallback) because the loops are primitive. The signature
    * is internal to the LSH candidate stage — the oracle checks the
    * final exact-Jaccard pairs, not the hashes — so this is free to be
    * fast rather than SQL-mirrorable. 64 perms / 32 bands: a 16×2
    * scheme empirically missed a j=0.8 pair at sf0.1 (per-pair miss
    * ~8e-8 with 16 bands; ~1e-14 with 32).
    */
  private val MinHashP = 1000000007L

  private def minhashSignature(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val h0 = new Array[Long](n)
    var j = 0
    while (j < n) {
      val bytes = arr.getUTF8String(j).getBytes
      var h = 7L; var i = 0
      while (i < bytes.length) { h = (h * 31 + (bytes(i) & 0xff)) % MinHashP; i += 1 }
      h0(j) = h; j += 1
    }
    val sig = new Array[Long](64)
    var p = 0
    while (p < 64) {
      // LCG-derived LARGE multipliers: small sequential multipliers
      // (2p+3) leave the affine maps rank-correlated — the argmin
      // barely moves between permutations and band collisions co-fail
      // (observed: one j=0.8 pair missed by ALL bands at sf0.1).
      val a = (1103515245L * (p + 1) + 12345L) % (MinHashP - 1) + 1
      val c = (69069L * (p + 7) + 362437L) % MinHashP
      var m = Long.MaxValue; var jj = 0
      while (jj < n) {
        val v = (h0(jj) * a + c) % MinHashP
        if (v < m) m = v
        jj += 1
      }
      sig(p) = m; p += 1
    }
    sig
  }

  case class MinHashSig(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        minhashSignature(a.asInstanceOf[ArrayData]))
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** LSH band keys from the MinHash signature, combined in-expression:
    * band b of 32 → sig[2b]·p + sig[2b+1] (exact pairing — both values
    * are < p, so no information is lost). Returning the combined longs
    * directly lets the caller `posexplode` them, which guarantees ONE
    * signature evaluation per row — `element_at(sig, …)` × 16 in a
    * projection re-evaluates the whole signature per element (measured
    * 40 s vs 4 s at sf0.1).
    */
  case class MinHashBands(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val sig = minhashSignature(a.asInstanceOf[ArrayData])
      val bands = new Array[Long](32)
      var b = 0
      while (b < 32) {
        bands(b) = sig(2 * b) * MinHashP + sig(2 * b + 1)
        b += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(bands)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct word-n-gram shingles of a document in one native pass:
    * lowercase → whitespace-split → join n consecutive tokens with a
    * single space → first-occurrence-distinct. Byte-for-byte the same
    * set as `list_distinct(list_transform(...))` over
    * `regexp_split_to_array(lower(text),'\s+')` (the oracle's
    * formulation) on this corpus.
    *
    * Exists for plan hygiene as much as speed: the declarative
    * tokenize+transform Column version is torn apart by
    * InferFiltersFromGenerate + filter pushdown, which re-inline the
    * tokenizer into per-element lambda positions — the tokenizer
    * appeared 40× in d02's physical plan and dominated its runtime. A
    * single opaque expression cannot be exploded that way.
    */
  case class ShingleSet(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val text = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.toLowerCase(java.util.Locale.ROOT)
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val out = new java.util.LinkedHashSet[String]()
      var i = 0
      while (i + n <= toks.length) {
        val sb = new StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        out.add(sb.toString); i += 1
      }
      val arr = new Array[Any](out.size)
      val it = out.iterator(); var k = 0
      while (it.hasNext) {
        arr(k) = org.apache.spark.unsafe.types.UTF8String.fromString(it.next())
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 8-bit random-hyperplane LSH bucket. Bit j = sign of the dot
    * product with pseudo-random plane j whose weight for dimension k is
    * LCG(j·64+k) scaled to [-0.5, 0.5). Arithmetic is ordered exactly
    * like the SQL formulation in the s02 oracle (integer LCG, then
    * double divide/subtract/multiply, sequential accumulation), so the
    * bucket assignment — and therefore even the ANN approximation — is
    * bit-reproducible across engines.
    */
  case class LshBucket(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override protected def nullSafeEval(a: Any): Any = {
      val v = a.asInstanceOf[ArrayData].toDoubleArray()
      var acc = 0L
      var j = 0
      while (j < 8) {
        var dacc = 0.0
        var k = 0
        val n = math.min(64, v.length)
        while (k < n) {
          val lcg = (1103515245L * (j * 64 + k) + 12345L) % 2147483648L
          dacc += v(k) * (lcg.toDouble / 2147483648.0 - 0.5)
          k += 1
        }
        if (dacc > 0.0) acc += 1L << j
        j += 1
      }
      acc
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Character n-grams of a string in one native pass, optionally
    * first-occurrence-distinct. Gram extraction uses
    * `UTF8String.substringSQL` — the exact same primitive SQL
    * `substr(text, i, n)` lowers to — so the produced strings are
    * byte-identical to the oracle's `substr` formulation (the grams ARE
    * oracle-visible, unlike the minhash internals). Replaces
    * `transform(sequence(...), i -> substring(text, i, 3))`, which pays
    * an interpreted lambda per gram and re-enters the
    * InferFiltersFromGenerate duplication trap under explode.
    */
  case class CharGrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val len = s.numChars()
      val count = math.max(0, len - n + 1)
      if (distinct) {
        val out = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
        var i = 0
        while (i < count) { out.add(s.substringSQL(i + 1, n)); i += 1 }
        val arr = new Array[Any](out.size)
        val it = out.iterator(); var k = 0
        while (it.hasNext) { arr(k) = it.next(); k += 1 }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
      } else {
        val arr = new Array[Any](count)
        var i = 0
        while (i < count) { arr(i) = s.substringSQL(i + 1, n); i += 1 }
        new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
      }
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Character n-gram COUNTS of a string in one native pass: a map of
    * gram → occurrence count (first-occurrence key order). Emitting
    * per-document pre-combined counts instead of one row per gram
    * occurrence cuts the explode row count — and therefore the shuffle
    * feeding the per-language profile aggregation — by the in-document
    * repeat factor: the map-side combine the reference gets from its
    * per-chunk `Counter` (`/root/reference/docs.rst:236-246`), done
    * inside one expression before the generate. Gram extraction uses
    * `substringSQL`, byte-identical to the oracle's `substr(text,i,3)`.
    */
  case class CharGramCounts(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.StringType,
      org.apache.spark.sql.types.LongType, valueContainsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val count = math.max(0, s.numChars() - n + 1)
      val m = new java.util.LinkedHashMap[org.apache.spark.unsafe.types.UTF8String, java.lang.Long]()
      var i = 0
      while (i < count) {
        val g = s.substringSQL(i + 1, n)
        val prev = m.get(g)
        m.put(g, if (prev == null) 1L else prev + 1L)
        i += 1
      }
      val keys = new Array[Any](m.size)
      val vals = new Array[Any](m.size)
      val it = m.entrySet().iterator(); var k = 0
      while (it.hasNext) {
        val e = it.next(); keys(k) = e.getKey; vals(k) = e.getValue.longValue()
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Code points of a string (what `UTF8String.numChars`/`substringSQL`
    * index by, so gram boundaries match the oracle's `substr`).
    */
  private def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](s.codePointCount(0, s.length))
    var i = 0; var k = 0
    while (i < s.length) {
      val cp = s.codePointAt(i); out(k) = cp; k += 1
      i += Character.charCount(cp)
    }
    out
  }

  /** An n-gram of code points packed into one long: cp0·2⁴²+cp1·2²¹+cp2
    * for n=3 (each code point ≤ 0x10FFFF < 2²¹, so packing is lossless
    * and fits 63 bits). Injective AND order-preserving: numeric order of
    * packed longs == code-point-lexicographic order of the gram strings
    * == UTF-8 binary order (both Spark's UTF8String comparison and
    * DuckDB's default collation) — so a rank tiebreak `ORDER BY packed`
    * selects exactly the rows `ORDER BY gram_string` selects, and the
    * profile/document intersection over longs has the same cardinality
    * as over strings. This is what lets t08's training shuffle, sorts
    * and 25k intersections run entirely on primitive longs.
    */
  private def packGram(cps: Array[Int], start: Int, n: Int): Long = {
    var acc = 0L; var j = 0
    while (j < n) { acc = (acc << 21) | cps(start + j).toLong; j += 1 }
    acc
  }

  /** Packed-gram COUNTS of a string in one native pass: map of packed
    * gram → occurrence count. The long-keyed twin of CharGramCounts —
    * the downstream (lang, gram) aggregation probes and shuffles 8-byte
    * keys instead of strings.
    */
  case class CharGramPackedCounts(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.MapType(
      org.apache.spark.sql.types.LongType,
      org.apache.spark.sql.types.LongType, valueContainsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val cps = codePoints(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      val count = math.max(0, cps.length - n + 1)
      val m = new java.util.LinkedHashMap[java.lang.Long, java.lang.Long]()
      var i = 0
      while (i < count) {
        val g = java.lang.Long.valueOf(packGram(cps, i, n))
        val prev = m.get(g)
        m.put(g, if (prev == null) 1L else prev + 1L)
        i += 1
      }
      val keys = new Array[Any](m.size)
      val vals = new Array[Any](m.size)
      val it = m.entrySet().iterator(); var k = 0
      while (it.hasNext) {
        val e = it.next(); keys(k) = e.getKey.longValue(); vals(k) = e.getValue.longValue()
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct packed grams of a string in one native pass — the
    * document side of t08's intersection (long-keyed twin of
    * CharGramHashes, but collision-FREE: packing is injective, so the
    * long intersection count equals the string intersection count
    * exactly, no 2⁻⁶⁴ caveat).
    */
  case class CharGramPackedDistinct(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val cps = codePoints(
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
      val count = math.max(0, cps.length - n + 1)
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      var i = 0
      while (i < count) { seen.add(packGram(cps, i, n)); i += 1 }
      val arr = new Array[Long](seen.size)
      val it = seen.iterator(); var k = 0
      while (it.hasNext) { arr(k) = it.next().longValue(); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** xxhash64 of each distinct character n-gram of a string, in one
    * native pass. Hashing goes through Spark's own `XxHash64Function`
    * (seed 42) so the longs are bit-identical to SQL `xxhash64(gram)` —
    * the other side of t08's intersection is built with the SQL
    * function, and the scores are oracle-checked. Replaces
    * `transform(graft_trigrams_distinct(text), x -> xxhash64(x))`,
    * which pays an interpreted lambda per gram (~10 M evals at sf0.1).
    */
  case class CharGramHashes(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val s = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      val count = math.max(0, s.numChars() - n + 1)
      val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
      var i = 0
      while (i < count) { seen.add(s.substringSQL(i + 1, n)); i += 1 }
      val arr = new Array[Long](seen.size)
      val it = seen.iterator(); var k = 0
      while (it.hasNext) {
        arr(k) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(it.next(), org.apache.spark.sql.types.StringType, 42L)
        k += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 32-bit SimHash over a token array in one native pass: per token a
    * polynomial hash over its characters (code points, mod 1e9+7 —
    * matching the oracle's `ascii()`-based `list_reduce` exactly for
    * BMP text), then per-bit ±1 votes over every occurrence, sign →
    * bit. Replaces a tokens×32 explode (10.6 M rows at sf0.1) with one
    * call per document; the signature is oracle-visible and the
    * arithmetic is identical to the SQL formulation.
    */
  case class SimHash32(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Long](32)
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(j).toString
        var h = 7L; var i = 0
        while (i < s.length) { h = (h * 31 + s.charAt(i).toLong) % MinHashP; i += 1 }
        var b = 0
        while (b < 32) {
          votes(b) += (if (((h >> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
        j += 1
      }
      var sig = 0L; var b = 0
      while (b < 32) { if (votes(b) > 0) sig += 1L << b; b += 1 }
      sig
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** 64-bit SimHash over a token array in one native pass — the
    * scale-grade widening of SimHash32 (whose 32-bit space gives only
    * 4×8-bit bands = 1,024 buckets total; candidate pairs measured ~9 %
    * of ALL pairs at sf0.1, i.e. a constant fraction of N² — quadratic
    * at 100 TB). Two independent polynomial hashes per token, each mod
    * a prime just under 2³² (4294967291 = 2³²−5 and 4294967279 = 2³²−17,
    * so all 32 low bits of each are uniform): h1 (seed 7, mult 31)
    * votes bits 0–31, h2 (seed 13, mult 33) votes bits 32–63. Per-bit
    * ±1 votes over every occurrence, sign → bit — identical shape to
    * the oracle's `list_reduce`/`unnest(range(0,64))` formulation
    * (`ascii()` per char ↔ `charAt` here: matching for BMP text, the
    * SimHash32 convention). Bit 63 makes the signature negative as a
    * Java long; the oracle mirrors two's complement explicitly since
    * DuckDB rejects `1::BIGINT << 63` as overflow. With 4×16-bit bands
    * the bucket space per band is 65,536 (vs 256) and the Hamming ≤ 3
    * pigeonhole guarantee is unchanged: 3 differing bits touch at most
    * 3 of the 4 bands, so some band matches exactly.
    */
  private val SimHashP1 = 4294967291L // 2^32 - 5
  private val SimHashP2 = 4294967279L // 2^32 - 17

  case class SimHash64(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override protected def nullSafeEval(a: Any): Any = {
      val arr = a.asInstanceOf[ArrayData]
      val n = arr.numElements()
      val votes = new Array[Long](64)
      var j = 0
      while (j < n) {
        val s = arr.getUTF8String(j).toString
        var h1 = 7L; var h2 = 13L; var i = 0
        while (i < s.length) {
          val c = s.charAt(i).toLong
          h1 = (h1 * 31 + c) % SimHashP1
          h2 = (h2 * 33 + c) % SimHashP2
          i += 1
        }
        var b = 0
        while (b < 32) {
          votes(b) += (if (((h1 >> b) & 1L) == 1L) 1L else -1L)
          votes(b + 32) += (if (((h2 >> b) & 1L) == 1L) 1L else -1L)
          b += 1
        }
        j += 1
      }
      var sig = 0L; var b = 0
      while (b < 64) { if (votes(b) > 0) sig |= 1L << b; b += 1 }
      sig
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Johnson-Lindenstrauss signed random projection 64 → 16 dims in
    * one native pass: out[j] = Σₖ v[k]·s(j,k) with s(j,k) = ±1 drawn
    * from bit 20 of the same LCG family as LshBucket (NOT the low bit:
    * an LCG's low bit strictly alternates with its sequential input,
    * which would make every output dimension the same checkerboard —
    * a rank-1 "projection"). Accumulation is k-ascending, so the
    * doubles are bit-identical to the oracle's `list_reduce` fold; the
    * projected vectors — and everything ranked on them — stay
    * hash-checkable across engines.
    */
  case class RandomProjection(child: Expression)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val v = a.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(64, v.length)
      val out = new Array[Any](16)
      var j = 0
      while (j < 16) {
        var dacc = 0.0
        var k = 0
        while (k < n) {
          val lcg = (1103515245L * (j * 64 + k) + 12345L) % 2147483648L
          dacc += v(k) * (if (((lcg >> 20) & 1L) == 1L) 1.0 else -1.0)
          k += 1
        }
        out(j) = dacc
        j += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Fused 8-bit scalar quantize → midpoint dequantize in one native
    * pass: out[i] = mn[i] + (min(254, ⌊(v[i]−mn[i])/(mx[i]−mn[i])·255⌋)
    * + 0.5)·(mx[i]−mn[i])/255. Exactly the arithmetic of s10's oracle
    * (same ops, same order — floor/clamp on bit-identical doubles);
    * replaces two interpreted 64-lambda `transform`s per row. The
    * byte codes exist transiently here — the STORAGE form at scale —
    * and the reconstruction is what search ranks.
    */
  case class SqDequantize(vec: Expression, mins: Expression, maxs: Expression)
    extends TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def first: Expression = vec
    override def second: Expression = mins
    override def third: Expression = maxs
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    override protected def nullSafeEval(a: Any, b: Any, c: Any): Any = {
      val v = a.asInstanceOf[ArrayData].toDoubleArray()
      val mn = b.asInstanceOf[ArrayData].toDoubleArray()
      val mx = c.asInstanceOf[ArrayData].toDoubleArray()
      val n = math.min(v.length, math.min(mn.length, mx.length))
      val out = new Array[Any](n)
      var i = 0
      while (i < n) {
        val w = mx(i) - mn(i)
        // degenerate dimension (mx == mn): every value IS mn, so the
        // reconstruction is mn exactly. Without the guard the divide
        // yields NaN, which floor→toLong happens to collapse to the
        // same answer HERE but the oracle's floor(NaN)::BIGINT cast
        // errors — guard both engines into defined behavior.
        if (w == 0.0) out(i) = mn(i)
        else {
          val q = math.min(254L, math.floor((v(i) - mn(i)) / w * 255.0).toLong)
          out(i) = mn(i) + (q.toDouble + 0.5) * w / 255.0
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
      copy(vec = newFirst, mins = newSecond, maxs = newThird)
  }

  /** Product-quantization encode→decode fused in one native pass:
    * the 64-dim vector is split into 8 subspaces of 8 dims; for each
    * subspace the nearest of 16 codewords (flat codebook argument:
    * 16×64 doubles, codeword-major — only the subspace slice of each
    * codeword is used) is chosen by exact L2², ties to the LOWEST
    * codeword index (strict `<` keeps the first minimum — mirrored by
    * the oracle's ORDER BY d2, j), and the reconstruction concatenates
    * the chosen codewords' slices. The 8×4-bit codes exist transiently
    * — the STORAGE form at scale is 8 bytes/vector vs 512 for raw
    * doubles — and search ranks reconstructions asymmetrically
    * (probe stays exact). Distance folds accumulate dim-ascending, so
    * doubles are bit-identical to the oracle's `list_reduce`.
    */
  case class PqReconstruct(vec: Expression, cb: Expression)
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def left: Expression = vec
    override def right: Expression = cb
    override def dataType: DataType =
      ArrayType(DoubleType, containsNull = false)
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val v = a.asInstanceOf[ArrayData].toDoubleArray()
      val c = b.asInstanceOf[ArrayData].toDoubleArray() // 16 * 64 flat
      val out = new Array[Any](64)
      var s = 0
      while (s < 8) {
        var best = 0; var bestD = Double.PositiveInfinity
        var j = 0
        while (j < 16) {
          var d2 = 0.0; var i = 0
          val base = j * 64 + s * 8
          while (i < 8) {
            val diff = v(s * 8 + i) - c(base + i)
            d2 += diff * diff
            i += 1
          }
          if (d2 < bestD) { bestD = d2; best = j }
          j += 1
        }
        var i = 0
        while (i < 8) { out(s * 8 + i) = c(best * 64 + s * 8 + i); i += 1 }
        s += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(vec = newLeft, cb = newRight)
  }

  /** Word n-grams of a text in one native pass, NON-distinct — every
    * occurrence is kept, in order. The occurrence-weighted sibling of
    * ShingleSet (same tokenization: lowercase, split on whitespace,
    * drop empties), for signature algorithms where each occurrence
    * votes (d10's bigram SimHash). Same plan-hygiene rationale as
    * ShingleSet: one opaque expression instead of a
    * tokenize+transform pipeline the optimizer re-inlines per element.
    */
  case class WordGramList(child: Expression, n: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
    override def dataType: DataType =
      ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)
    override protected def nullSafeEval(a: Any): Any = {
      val text = a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
        .toString.toLowerCase(java.util.Locale.ROOT)
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val count = math.max(0, toks.length - n + 1)
      val arr = new Array[Any](count)
      var i = 0
      while (i < count) {
        val sb = new StringBuilder(toks(i))
        var j = 1
        while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
        arr(i) = org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Bloom-filter membership probe over a long key, as a NATIVE
    * expression with full whole-stage codegen (Spark exposes
    * `BloomFilterMightContain` only to its own runtime-filter rule, not
    * the SQL registry — probed). The built filter rides along as a
    * broadcast reference (`ctx.addReferenceObj`), so executors probe
    * the already-broadcast bitset directly: no UDF wrapper, no
    * serialize-per-task, and the surrounding filter stays inside the
    * codegen'd scan stage. Registered per-call by d06 with its
    * just-built filter (the function closure captures the broadcast).
    */
  case class BloomMightContainLong(
      child: Expression,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.BooleanType
    override protected def nullSafeEval(v: Any): Any =
      bloom.value.mightContainLong(v.asInstanceOf[Long])
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("bloomBc", bloom,
        classOf[org.apache.spark.broadcast.Broadcast[_]].getName)
      nullSafeCodeGen(ctx, ev, v =>
        s"${ev.value} = ((org.apache.spark.util.sketch.BloomFilter)$ref.value()).mightContainLong($v);")
    }
    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** |A ∩ B| for two SORTED-ascending long arrays with DISTINCT
    * elements (per-doc shingle-hash sets ordered by `sort_array`) —
    * one linear merge over two primitive long[], no per-row hash-set
    * construction and no intersection-array materialization, which is
    * what `size(array_intersect(...))` pays per candidate pair in the
    * dedup verify tiers. Preconditions are the caller's contract:
    * unsorted input gives an undercount, duplicates count once per
    * matched occurrence pair — both asserted against array_intersect
    * on randomized inputs in the spec.
    */
  case class SortedCommonCount(left: Expression, right: Expression)
    extends BinaryExpression {
    override def dataType: DataType = org.apache.spark.sql.types.LongType
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData].toLongArray()
      val y = b.asInstanceOf[ArrayData].toLongArray()
      var i = 0; var j = 0; var c = 0L
      while (i < x.length && j < y.length) {
        if (x(i) < y(j)) i += 1
        else if (x(i) > y(j)) j += 1
        else { c += 1; i += 1; j += 1 }
      }
      c
    }
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val x = ctx.freshName("x"); val y = ctx.freshName("y")
        val i = ctx.freshName("i"); val j = ctx.freshName("j")
        val c = ctx.freshName("c")
        s"""
        long[] $x = $a.toLongArray();
        long[] $y = $b.toLongArray();
        int $i = 0; int $j = 0; long $c = 0L;
        while ($i < $x.length && $j < $y.length) {
          if ($x[$i] < $y[$j]) $i++;
          else if ($x[$i] > $y[$j]) $j++;
          else { $c++; $i++; $j++; }
        }
        ${ev.value} = $c;
        """
      })
    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Every graft SQL function: (name, usage, builder). The one table
    * both [[register]] and `graft.GraftExtensions` read. */
  val functions: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_dot", "dot product of two double arrays",
      es => DotProduct(es.head, es(1))),
    ("graft_sumsq", "sum of squares of a double array",
      es => SumSquares(es.head)),
    ("graft_minhash", "64-perm MinHash signature of a string array",
      es => MinHashSig(es.head)),
    ("graft_minhash_bands", "32 combined LSH band keys",
      es => MinHashBands(es.head)),
    ("graft_shingles", "distinct word 3-gram shingles",
      es => ShingleSet(es.head, 3)),
    ("graft_lsh_bucket", "8-bit hyperplane LSH bucket",
      es => LshBucket(es.head)),
    ("graft_trigrams", "character trigrams",
      es => CharGrams(es.head, 3, distinct = false)),
    ("graft_trigrams_distinct", "distinct character trigrams",
      es => CharGrams(es.head, 3, distinct = true)),
    ("graft_simhash32", "32-bit SimHash of a token array",
      es => SimHash32(es.head)),
    ("graft_trigram_counts", "per-document trigram -> count map",
      es => CharGramCounts(es.head, 3)),
    ("graft_trigram_hashes", "xxhash64 of each distinct trigram",
      es => CharGramHashes(es.head, 3)),
    ("graft_trigram_packed_counts", "packed trigram -> count map",
      es => CharGramPackedCounts(es.head, 3)),
    ("graft_trigram_packed", "distinct order-preserving packed trigrams",
      es => CharGramPackedDistinct(es.head, 3)),
    ("graft_shingles5", "distinct word 5-gram shingles",
      es => ShingleSet(es.head, 5)),
    ("graft_word_bigrams", "word bigrams, every occurrence",
      es => WordGramList(es.head, 2)),
    ("graft_rproj", "16-dim signed random projection",
      es => RandomProjection(es.head)),
    ("graft_simhash64", "64-bit SimHash of a token array",
      es => SimHash64(es.head)),
    ("graft_sq_dequantize", "fused 8-bit scalar quantize -> midpoint dequantize",
      es => SqDequantize(es.head, es(1), es(2))),
    ("graft_pq_reconstruct", "fused product-quantization encode -> decode",
      es => PqReconstruct(es.head, es(1))),
    ("graft_common_sorted", "common-element count of two sorted distinct long arrays",
      es => SortedCommonCount(es.head, es(1))))

  /** Register [[functions]] as SQL temp functions so the query surface
    * reaches them through `expr(...)` without touching the Column
    * constructor (session-internal in Spark 4).
    */
  def register(s: SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      s.sessionState.functionRegistry.createOrReplaceTempFunction(
        name, builder, "built-in")
    }
}
