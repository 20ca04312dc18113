package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.{call_function, col, lit}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the numeric hot paths.
  *
  * Spark's higher-order functions (`aggregate`/`zip_with`/`transform`)
  * are *interpreted* per element — every lambda step allocates and
  * evaluates an expression tree. Fine for a projection over N rows;
  * deadly inside an O(N²) similarity join or a 64-permutation signature
  * where the same array is walked tens of times. These expressions do
  * the same arithmetic in one compiled JVM loop (preference order (b)
  * of the build rules: a native `Expression` beats a UDF).
  *
  * `CodegenFallback` is deliberate for the signature/packing
  * expressions: the body IS compiled Scala; codegen would only fuse the
  * surrounding projection, and these evaluate one tight loop per row,
  * so fallback costs ~nothing while keeping the implementation
  * auditable. [[ArrayCosine]] is the exception — it runs INSIDE the
  * O(N²) similarity joins where a fallback row-boxes every candidate
  * pair out of the whole-stage loop, so it ships real `doGenCode`.
  */
object VectorExprs {

  /** Shared analysis-time check for the fractional-array expressions
    * (SQL-visible via GraftExtensions, so inputs are user-controlled):
    * reject non-float/double element types instead of mis-striding
    * UnsafeArrayData reads at runtime.
    */
  private def checkFractionalArrays(
      name: String,
      exprs: Seq[Expression]): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val bad = exprs.zipWithIndex.collectFirst {
      case (e, i) if (e.dataType match {
            case ArrayType(FloatType | DoubleType, _) => false
            case _ => true
          }) =>
        s"argument ${i + 1} of $name must be array<float> or array<double>, got ${e.dataType.sql}"
    }
    bad.map(TypeCheckResult.TypeCheckFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  /** Exact-element-type array check: these expressions read elements by
    * fixed stride (`getLong`) or exact class (`UTF8String`), so an
    * int-element array would read mis-strided garbage SILENTLY and a
    * wrong string type would ClassCastException at execution — both
    * must be rejected at analysis time instead.
    */
  private def checkElementType(name: String, exprs: Seq[Expression], elem: DataType)
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
    val bad = exprs.zipWithIndex.collectFirst {
      case (e, i) if (e.dataType match {
            case ArrayType(t, _) if t == elem => false
            case _ => true
          }) =>
        s"argument ${i + 1} of $name must be array<${elem.simpleString}>, got ${e.dataType.sql}"
    }
    bad.map(TypeCheckResult.TypeCheckFailure).getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  /** Cosine similarity over two numeric arrays — identical operation
    * order to the `zip_with`/`aggregate` formulation in
    * [[graft.ext.Similarity.cosine]] (sequential dot, then norms), so
    * results are bit-for-bit equal and DuckDB-oracle-safe.
    *
    * Unlike its siblings this one implements REAL `doGenCode` (not
    * `CodegenFallback`): it sits inside the O(N²) similarity joins and
    * the brute-force scans, where a fallback expression forces every
    * row out of the fused whole-stage loop and back (InternalRow
    * boxing both ways). The generated Java is the same specialized
    * loop as the interpreted path — element accessors are baked in at
    * codegen time from the resolved input types — so compiled and
    * interpreted evaluation stay bit-for-bit identical (ParitySpec).
    */
  case class ArrayCosine(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    // NULL on unequal lengths or NULL elements (the declarative
    // zip_with/aggregate form's semantics), so the expression is
    // nullable even over non-null array children
    override def nullable: Boolean = true
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkFractionalArrays("graft_array_cosine", Seq(left, right))
    @transient private lazy val lMayNull =
      left.dataType.asInstanceOf[ArrayType].containsNull
    @transient private lazy val rMayNull =
      right.dataType.asInstanceOf[ArrayType].containsNull
    // per-side element types: array<float> · array<double> (e.g. a raw
    // embedding against a double centroid literal) must not mis-stride;
    // resolved once per expression instance, specialized loops below
    // keep the hot path branch-free (this runs O(N²) times in the
    // similarity joins)
    @transient private lazy val lFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val rFloat =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      // declarative parity (Similarity.cosine): zip_with pads unequal
      // lengths with NULL and a NULL element poisons the fold -> NULL;
      // reading past a null slot would NPE interpreted and silently
      // read 0.0 under codegen (divergent results)
      if (xs.numElements() != ys.numElements()) return null
      if ((lMayNull || rMayNull) && {
          var j = 0; var hasNull = false
          val m = xs.numElements()
          while (j < m && !hasNull) {
            hasNull = (lMayNull && xs.isNullAt(j)) || (rMayNull && ys.isNullAt(j)); j += 1
          }
          hasNull
        }) return null
      val n = xs.numElements()
      var dot = 0.0
      var sa = 0.0
      var sb = 0.0
      var i = 0
      if (lFloat && rFloat) {
        while (i < n) {
          val x = xs.getFloat(i).toDouble
          val y = ys.getFloat(i).toDouble
          dot += x * y; sa += x * x; sb += y * y; i += 1
        }
      } else if (!lFloat && !rFloat) {
        while (i < n) {
          val x = xs.getDouble(i)
          val y = ys.getDouble(i)
          dot += x * y; sa += x * x; sb += y * y; i += 1
        }
      } else {
        while (i < n) {
          val x = if (lFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
          val y = if (rFloat) ys.getFloat(i).toDouble else ys.getDouble(i)
          dot += x * y; sa += x * x; sb += y * y; i += 1
        }
      }
      val na = math.sqrt(sa)
      val nb = math.sqrt(sb)
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (na * nb)
    }
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n")
        val i = ctx.freshName("i")
        val dot = ctx.freshName("dot")
        val sa = ctx.freshName("sa")
        val sb = ctx.freshName("sb")
        val x = ctx.freshName("x")
        val y = ctx.freshName("y")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        // element accessors specialized at CODEGEN time from the
        // resolved input types — same strides as the interpreted loops
        val getX = if (lFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
        val getY = if (rFloat) s"(double) $b.getFloat($i)" else s"$b.getDouble($i)"
        // same NULL semantics as the interpreted path; the per-element
        // null test compiles away when neither child may hold nulls
        val nullElemCheck =
          if (lMayNull || rMayNull) {
            val lc = if (lMayNull) s"$a.isNullAt($i)" else "false"
            val rc = if (rMayNull) s"$b.isNullAt($i)" else "false"
            s"if ($lc || $rc) { ${ev.isNull} = true; break; }"
          } else ""
        s"""
           |if ($a.numElements() != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  int $n = $a.numElements();
           |  double $dot = 0.0;
           |  double $sa = 0.0;
           |  double $sb = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $nullElemCheck
           |    double $x = $getX;
           |    double $y = $getY;
           |    $dot += $x * $y;
           |    $sa += $x * $x;
           |    $sb += $y * $y;
           |  }
           |  if (!${ev.isNull}) {
           |    double $na = java.lang.Math.sqrt($sa);
           |    double $nb = java.lang.Math.sqrt($sb);
           |    ${ev.value} = ($na == 0.0 || $nb == 0.0) ? 0.0 : $dot / ($na * $nb);
           |  }
           |}
           |""".stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 64-bit Z-order (Morton) key: bit-interleave two 32-bit values so
    * SIGNED-long order on the key preserves 2-D locality — the sort
    * key behind multi-dimensional file skipping (cluster by z, write,
    * and every file's min/max footer stats are tight on BOTH columns).
    * Inputs are truncated to 32 bits and sign-biased (x ^ 0x80000000)
    * so signed input order maps to unsigned interleave order; the
    * output's top bit is flipped back so Spark's signed Long
    * comparisons (range partitioner, min/max stats) see a monotonic
    * key — without this, bit 31 of the second input would land in the
    * Long sign bit and split the curve at 2^31 (review r2 finding).
    * Domain: values must fit in signed 32 bits ([-2^31, 2^31));
    * larger magnitudes alias modulo 2^32 (pre-scale epoch-seconds or
    * hashes into the domain first). NULL in → NULL out.
    */
  case class ZOrder2(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      val ok = Seq(left, right).forall(e =>
        e.dataType == LongType || e.dataType == IntegerType)
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_zorder2 expects integral arguments, got ${left.dataType.sql}, ${right.dataType.sql}")
    }
    private def spread(v: Long): Long = {
      // interleave-ready: spread the low 32 bits to even positions
      var x = v & 0xFFFFFFFFL
      x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
      x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
      x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
      x = (x | (x << 2)) & 0x3333333333333333L
      x = (x | (x << 1)) & 0x5555555555555555L
      x
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      def toL(v: Any): Long = v match {
        case i: java.lang.Integer => i.toLong
        case l: java.lang.Long => l
      }
      val xa = (toL(a) & 0xFFFFFFFFL) ^ 0x80000000L // signed -> unsigned order
      val xb = (toL(b) & 0xFFFFFFFFL) ^ 0x80000000L
      // LEFT input takes the odd (higher) bit positions — the same
      // operand convention as ZOrder.zorderKey, so the repo's two
      // Morton-key APIs produce interchangeable curves for (a, b)
      ((spread(xa) << 1) | spread(xb)) ^ Long.MinValue // monotone under signed compare
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def zorder2(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_zorder2", exprs => ZOrder2(exprs(0), exprs(1)), "scala_udf")
    call_function("graft_zorder2", a, b)
  }

  /** Hilbert curve index of two non-negative dimensions on a
    * 2^order × 2^order grid — the compiled form of the `aggregate`-fold
    * column formulation [[graft.functions.ZOrder.hilbertKey]] wraps:
    * the identical Hamilton-convention rotate-and-accumulate loop
    * (HilbertSpec pins both against an independent reference
    * transcription), evaluated as ONE tight JVM loop per row instead of
    * `order` interpreted fold steps each allocating a struct
    * accumulator. The clustered rewrite evaluates the key twice per row
    * (range-partitioner sample pass + real pass), which made the
    * interpreted fold the dominant cost of the Hilbert compaction.
    * Inputs are masked to the low `order` bits exactly like the fold's
    * initial accumulator.
    */
  case class Hilbert2(left: Expression, right: Expression, order: Int)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      val ok = Seq(left, right).forall(e =>
        e.dataType == LongType || e.dataType == IntegerType)
      if (ok) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_hilbert2 expects integral arguments, got ${left.dataType.sql}, ${right.dataType.sql}")
    }
    override def nullSafeEval(a: Any, b: Any): Any = {
      def toL(v: Any): Long = v match {
        case i: java.lang.Integer => i.toLong
        case l: java.lang.Long => l
      }
      val mask = (1L << order) - 1
      var x = toL(a) & mask
      var y = toL(b) & mask
      var d = 0L
      var s = 1L << (order - 1)
      while (s > 0) {
        val rx = if ((x & s) > 0) 1L else 0L
        val ry = if ((y & s) > 0) 1L else 0L
        d += s * s * ((3 * rx) ^ ry)
        // Hamilton rotation — negate-if-rx then swap, skipped when ry=1:
        // exactly the fold's nx/ny when-chains
        if (ry == 0L) {
          if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
          val t = x; x = y; y = t
        }
        s >>= 1
      }
      d
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Compiled Hilbert key with `order` baked into the registration. */
  def hilbert2(
      spark: org.apache.spark.sql.SparkSession,
      a: Column,
      b: Column,
      order: Int): Column = {
    val name = s"graft_hilbert2_$order"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => Hilbert2(exprs(0), exprs(1), order), "scala_udf")
    call_function(name, a, b)
  }

  /** Dot product over two numeric arrays with the EXACT null/length
    * semantics of the declarative
    * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` it replaces (see
    * [[graft.plans.GraftExtensions]]'s strength-reduction rule):
    * zip_with pads the shorter array with NULLs and a NULL product
    * poisons the sum, so unequal lengths or NULL elements yield NULL.
    * Accumulation is sequential in index order — bit-identical.
    */
  case class ArrayDot(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkFractionalArrays("graft_array_dot", Seq(left, right))
    // resolved once per expression instance, not per row — this sits on
    // the strength-reduced similarity hot path (same pattern as
    // ArrayCosine's lFloat/rFloat)
    @transient private lazy val lFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val rFloat =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      if (xs.numElements() != ys.numElements()) return null
      val n = xs.numElements()
      var dot = 0.0
      var i = 0
      while (i < n) {
        if (xs.isNullAt(i) || ys.isNullAt(i)) return null
        val x = if (lFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
        val y = if (rFloat) ys.getFloat(i).toDouble else ys.getDouble(i)
        dot += x * y
        i += 1
      }
      dot
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** MinHash signature from an array of (already mod-P-reduced) shingle
    * hashes: k universal-hash permutations in one pass —
    * sig_i = min_x (a_i·x + b_i) mod P. Same (P, a_i, b_i) family as
    * [[graft.ext.Dedup]]; the parameters are injected so the two
    * definitions cannot drift.
    */
  case class MinHashSig(child: Expression, as: Seq[Long], bs: Seq[Long], p: Long)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkElementType("graft_minhash_sig", Seq(child), LongType)
    private val k = as.length
    override def nullSafeEval(input: Any): Any = {
      val hashes = input.asInstanceOf[ArrayData]
      val n = hashes.numElements()
      val sig = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < n) {
        val x = hashes.getLong(j)
        var i = 0
        while (i < k) {
          val v = (as(i) * x + bs(i)) % p
          if (v < sig(i)) sig(i) = v
          i += 1
        }
        j += 1
      }
      new GenericArrayData(sig)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  private val ShingleSep: UTF8String = UTF8String.fromString(" ")

  /** Distinct word-n-gram shingle hashes from a token-string array:
    * joins each n-token window with single spaces, hashes with Spark's
    * seed-42 XXH64, reduces mod p, de-duplicates — the compiled
    * equivalent of the `transform(sequence…, slice/concat_ws)` +
    * `array_distinct` column formulation, minus per-shingle string
    * allocation churn in the interpreter.
    */
  case class ShingleHashes(child: Expression, n: Int, p: Long)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkElementType("graft_shingle_hashes", Seq(child), StringType)
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val len = toks.numElements()
      def tok(i: Int): UTF8String = toks.get(i, StringType).asInstanceOf[UTF8String]
      val seen = new java.util.LinkedHashSet[java.lang.Long]()
      def add(s: UTF8String): Unit = {
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function
          .hash(s, StringType, 42L)
        // p == Long.MaxValue means "no reduction" (full 64-bit space for
        // verification sets); the ((h%p)+p)%p form would overflow there
        seen.add(if (p == Long.MaxValue) h else ((h % p) + p) % p)
      }
      // hoisted separator + reusable window buffer: this loop runs once
      // per document in the dedup hot path, so two fresh objects per
      // shingle window (separator + Range-mapped Seq) are churn the
      // expression exists to remove
      if (len < n) {
        val parts = new Array[UTF8String](len)
        var i = 0
        while (i < len) { parts(i) = tok(i); i += 1 }
        add(UTF8String.concatWs(ShingleSep, parts.toIndexedSeq: _*))
      } else {
        val window = new Array[UTF8String](n)
        var j = 0
        while (j <= len - n) {
          var i = 0
          while (i < n) { window(i) = tok(j + i); i += 1 }
          add(UTF8String.concatWs(ShingleSep, window.toIndexedSeq: _*))
          j += 1
        }
      }
      val out = new Array[Long](seen.size)
      val it = seen.iterator()
      var i = 0
      while (it.hasNext) { out(i) = it.next(); i += 1 }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** All ordered pairs (elems[i], elems[j]), i &lt; j, of an array as an
    * array of two-field structs — the compiled equivalent of the nested
    * `flatten(transform(a, (x, i) -> transform(slice(a, i + 2, …), …)))`
    * higher-order formulation (identical pair set and order). That form
    * is interpreted per ELEMENT — each outer step allocates a slice copy
    * and an expression-tree evaluation per inner element — and it sits
    * in two hot paths: the triangle count's per-order C(k,2) edge
    * expansion and the LSH in-bucket candidate expansion, both of which
    * run once per (group, pair). One JVM loop per row instead. Element
    * type is taken from the input array (longs in both current callers);
    * `f1`/`f2` name the output struct fields so call sites keep their
    * column names. Caller contract unchanged from the HOF form: the
    * input is a sorted distinct array, so i &lt; j ⇒ elems[i] &lt;
    * elems[j].
    */
  case class SortedPairs(child: Expression, f1: String, f2: String)
      extends UnaryExpression with CodegenFallback {
    @transient private lazy val elemType =
      child.dataType.asInstanceOf[ArrayType].elementType
    override def dataType: DataType = {
      val e = child.dataType.asInstanceOf[ArrayType]
      ArrayType(
        StructType(Seq(
          StructField(f1, e.elementType, e.containsNull),
          StructField(f2, e.elementType, e.containsNull))),
        containsNull = false)
    }
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      child.dataType match {
        case _: ArrayType => TypeCheckResult.TypeCheckSuccess
        case t => TypeCheckResult.TypeCheckFailure(
          s"graft_sorted_pairs expects an array argument, got ${t.sql}")
      }
    }
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = arr.numElements()
      if (n < 2) return new GenericArrayData(Array.empty[Any])
      val elems = arr.toObjectArray(elemType)
      val out = new Array[Any](SortedPairs.pairCount(n))
      var k = 0
      var i = 0
      while (i < n - 1) {
        val a = elems(i)
        var j = i + 1
        while (j < n) {
          out(k) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](a, elems(j)))
          k += 1
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  object SortedPairs {
    /** C(n, 2), the output length for an n-element input. Computed as a
      * Long (Int arithmetic overflows from n = 46,342); an explicit error
      * names n once the count exceeds the largest array the JVM can
      * allocate, which first happens at n = 65,537.
      */
    def pairCount(n: Int): Int = {
      val count = n.toLong * (n - 1) / 2
      if (count > ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH)
        throw new IllegalArgumentException(
          s"graft_sorted_pairs: an array of $n elements has $count pairs, more than the " +
            s"${ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH} one array can hold")
      count.toInt
    }
  }

  def sortedPairs(
      spark: org.apache.spark.sql.SparkSession,
      sorted: Column,
      f1: String,
      f2: String): Column = {
    val name = s"graft_sorted_pairs_${f1}_$f2"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => SortedPairs(exprs.head, f1, f2), "scala_udf")
    call_function(name, sorted)
  }

  /** Exact Jaccard over two long-array SETS (distinct elements assumed,
    * as [[ShingleHashes]] emits): |A∩B| / |A∪B| via one hash-set probe
    * — the compiled verification step for candidate near-dup pairs.
    */
  case class JaccardLongs(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkElementType("graft_jaccard_longs", Seq(left, right), LongType)
    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      val na = xs.numElements()
      val nb = ys.numElements()
      val set = new java.util.HashSet[java.lang.Long](na * 2)
      var i = 0
      while (i < na) { set.add(xs.getLong(i)); i += 1 }
      var inter = 0
      i = 0
      while (i < nb) { if (set.contains(ys.getLong(i))) inter += 1; i += 1 }
      val union = na + nb - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }
    // real doGenCode (like ArrayCosine): this evaluates once per
    // CANDIDATE PAIR in the minhash verify join — a fallback would
    // row-box every pair out of the fused loop
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        val set = ctx.freshName("set")
        val i = ctx.freshName("i")
        val j = ctx.freshName("j")
        val inter = ctx.freshName("inter")
        val union = ctx.freshName("union")
        s"""
           |int $na = $a.numElements();
           |int $nb = $b.numElements();
           |java.util.HashSet<java.lang.Long> $set = new java.util.HashSet<java.lang.Long>($na * 2);
           |for (int $i = 0; $i < $na; $i++) { $set.add($a.getLong($i)); }
           |int $inter = 0;
           |for (int $j = 0; $j < $nb; $j++) {
           |  if ($set.contains($b.getLong($j))) $inter++;
           |}
           |int $union = $na + $nb - $inter;
           |${ev.value} = ($union == 0) ? 0.0 : (double) $inter / $union;
           |""".stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  def jaccardLongs(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_jaccard_longs", exprs => JaccardLongs(exprs(0), exprs(1)), "scala_udf")
    call_function("graft_jaccard_longs", a, b)
  }

  /** 64-bit SimHash from a token-string array: xxhash64 each token
    * (Spark's own seed-42 XXH64, same as the `xxhash64` function),
    * tally signs per bit, pack MSB-first — one pass, compiled.
    */
  case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkElementType("graft_simhash64", Seq(child), StringType)
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val tally = new Array[Int](64)
      var j = 0
      while (j < n) {
        val t = toks.get(j, StringType).asInstanceOf[UTF8String]
        val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(t, StringType, 42L)
        var i = 0
        while (i < 64) {
          if (((h >>> i) & 1L) == 1L) tally(i) += 1 else tally(i) -= 1
          i += 1
        }
        j += 1
      }
      var sig = 0L
      var i = 0
      while (i < 64) { // MSB-first: bit 0's tally lands highest
        sig = (sig << 1) | (if (tally(i) > 0) 1L else 0L)
        i += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 60-bit SimHash from a token-string array with an md5 token hash —
    * the cross-engine-replayable variant of [[SimHash64]]. Token hash =
    * first 15 hex chars of md5 (60 bits, the widest md5 prefix that
    * stays positive in a signed 64-bit int in every engine); signature
    * bit i (LSB-first) is the sign of the per-bit tally, so the packed
    * value never touches the sign bit and `1 << i` arithmetic is exact
    * and identical in Spark and DuckDB SQL.
    */
  case class SimHashMd5(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkElementType("graft_simhash_md5", Seq(child), StringType)
    @transient private lazy val mdLocal =
      ThreadLocal.withInitial[java.security.MessageDigest](() =>
        java.security.MessageDigest.getInstance("MD5"))
    override def nullSafeEval(input: Any): Any = {
      val toks = input.asInstanceOf[ArrayData]
      val n = toks.numElements()
      val md = mdLocal.get()
      val tally = new Array[Int](60)
      var j = 0
      while (j < n) {
        val t = toks.get(j, StringType).asInstanceOf[UTF8String]
        md.reset()
        val d = md.digest(t.getBytes)
        // first 8 digest bytes big-endian, dropped low nibble = the
        // value of the first 15 hex chars of the md5 string
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (d(b) & 0xFFL); b += 1 }
        val h = v >>> 4
        var i = 0
        while (i < 60) {
          if (((h >>> i) & 1L) == 1L) tally(i) += 1 else tally(i) -= 1
          i += 1
        }
        j += 1
      }
      var sig = 0L
      var i = 0
      while (i < 60) { if (tally(i) > 0) sig |= 1L << i; i += 1 }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Random-hyperplane LSH signature: for each of `bits` hyperplanes,
    * the sign of vec·plane packed into a long bucket key — the compiled
    * form of [[graft.ext.Similarity.lshSignature]]'s column algebra,
    * producing IDENTICAL buckets (the plane weights reproduce the
    * xxhash64-derived pseudo-random components bit-for-bit).
    *
    * Why an expression: the declarative form evaluates `bits` separate
    * interpreted dot products per row, each re-deriving the plane
    * weights per element via hash expressions (~bits × dim hash evals
    * and allocations PER ROW). Here the plane matrix is computed once
    * per (dimension) and cached on the expression instance — the per-row
    * cost drops to bits × dim fused multiply-adds.
    */
  case class HyperplaneSig(child: Expression, table: Int, bits: Int)
      extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkFractionalArrays("graft_hyperplane_sig", Seq(child))
    override def nullable: Boolean = true
    @transient private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val mayNull =
      child.dataType.asInstanceOf[ArrayType].containsNull
    // plane weights per observed dimensionality (corpora are fixed-dim;
    // the map handles ragged inputs correctly anyway)
    @transient private lazy val planesByDim =
      new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
    private def planes(dim: Int): Array[Array[Double]] =
      planesByDim.computeIfAbsent(
        dim,
        _ => Array.tabulate(bits, dim) { (p, d) =>
          // bit-for-bit the column form's planeComponent:
          // xxhash64('graft-lsh-<table>-<plane>', dim) chains the string
          // hash (seed 42) into the int hash, then pmod into [-1, 1]
          import org.apache.spark.sql.catalyst.expressions.XxHash64Function
          val seed = XxHash64Function.hash(
            UTF8String.fromString(s"graft-lsh-$table-$p"), StringType, 42L)
          val h = XxHash64Function.hash(d, IntegerType, seed)
          (((h % 2000001L) + 2000001L) % 2000001L - 1000000L) / 1000000.0
        })
    override def nullSafeEval(input: Any): Any = {
      val xs = input.asInstanceOf[ArrayData]
      val n = xs.numElements()
      // a NULL component has no sign contribution — NULL out rather
      // than NPE (interpreted) / silently read 0.0 (unsafe rows)
      if (mayNull) {
        var j = 0
        while (j < n) { if (xs.isNullAt(j)) return null; j += 1 }
      }
      val w = planes(n)
      var sig = 0L
      var p = 0
      while (p < bits) {
        val wp = w(p)
        var dot = 0.0
        var i = 0
        if (isFloat) while (i < n) { dot += xs.getFloat(i) * wp(i); i += 1 }
        else while (i < n) { dot += xs.getDouble(i) * wp(i); i += 1 }
        if (dot >= 0) sig |= 1L << p
        p += 1
      }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Compiled hyperplane signature with (table, bits) baked into the
    * registration.
    */
  def hyperplaneSig(
      spark: org.apache.spark.sql.SparkSession,
      vec: Column,
      table: Int,
      bits: Int): Column = {
    val name = s"graft_hplane_${table}_$bits"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => HyperplaneSig(exprs.head, table, bits), "scala_udf")
    call_function(name, vec)
  }

  /** Bloom-filter membership probe: `left` is the serialized
    * `org.apache.spark.util.sketch.BloomFilter` bitmap (a foldable
    * binary — typically a literal produced from `df.stat.bloomFilter`),
    * `right` the probed key. The filter is deserialized ONCE per task
    * (transient lazy), so the per-row cost is the pure bit probe — the
    * explicit-form counterpart of Spark's internal
    * `BloomFilterMightContain` (not public API), needed when the build
    * side comes from a different job (cross-job pruning over a
    * lakehouse table). NULL key → false, matching the join that the
    * probe pre-filters (a NULL key can never equi-match).
    */
  case class BloomMightContain(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = BooleanType
    override def nullable: Boolean = false
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
      if (left.dataType != BinaryType)
        TypeCheckResult.TypeCheckFailure(
          s"argument 1 of graft_bloom_might_contain must be binary, got ${left.dataType.sql}")
      else if (!left.foldable)
        TypeCheckResult.TypeCheckFailure(
          "argument 1 of graft_bloom_might_contain must be a foldable serialized bloom filter")
      else
        right.dataType match {
          case LongType | IntegerType | ShortType | ByteType | StringType =>
            TypeCheckResult.TypeCheckSuccess
          case t =>
            TypeCheckResult.TypeCheckFailure(
              s"argument 2 of graft_bloom_might_contain must be integral or string, got ${t.sql}")
        }
    }
    @transient private lazy val filter: org.apache.spark.util.sketch.BloomFilter = {
      val bytes = left.eval(null).asInstanceOf[Array[Byte]]
      org.apache.spark.util.sketch.BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes))
    }
    // Override eval (not nullSafeEval): BinaryExpression.eval would
    // re-evaluate the megabyte-sized bitmap literal for every row.
    override def eval(input: InternalRow): Any = {
      val k = right.eval(input)
      if (k == null) false
      else
        k match {
          case l: java.lang.Long => filter.mightContainLong(l)
          case i: java.lang.Integer => filter.mightContainLong(i.toLong)
          case s: java.lang.Short => filter.mightContainLong(s.toLong)
          case b: java.lang.Byte => filter.mightContainLong(b.toLong)
          case u: UTF8String => filter.mightContainBinary(u.getBytes)
        }
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Probe a pre-built bloom filter as a compiled column predicate. */
  def bloomMightContain(
      spark: org.apache.spark.sql.SparkSession,
      filter: org.apache.spark.util.sketch.BloomFilter,
      key: Column): Column = {
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_bloom_might_contain", exprs => BloomMightContain(exprs(0), exprs(1)), "scala_udf")
    call_function("graft_bloom_might_contain", lit(bos.toByteArray), key)
  }

  /** Squared L2 distance over two numeric arrays — SEQUENTIAL
    * left-to-right sum of (a_i - b_i)², the same operation order as
    * `list_aggregate(list_transform(...), 'sum')` in DuckDB and a
    * `zip_with`/`aggregate` fold in Spark, so 6-dp-rounded comparisons
    * are engine-reproducible. The metric of the product-quantization
    * codebook loop ([[graft.ext.ProductQuant]]) — runs once per
    * (row × subspace × centroid), hence compiled.
    */
  case class ArrayL2Sq(left: Expression, right: Expression)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      checkFractionalArrays("graft_array_l2sq", Seq(left, right))
    @transient private lazy val lFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val rFloat =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType
    @transient private lazy val lMayNull =
      left.dataType.asInstanceOf[ArrayType].containsNull
    @transient private lazy val rMayNull =
      right.dataType.asInstanceOf[ArrayType].containsNull
    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData]
      val ys = b.asInstanceOf[ArrayData]
      // NULL on unequal lengths / NULL elements — the zip_with fold's
      // semantics, and the only safe answer (a truncated distance
      // silently mis-ranks candidates)
      if (xs.numElements() != ys.numElements()) return null
      val n = xs.numElements()
      if (lMayNull || rMayNull) {
        var j = 0
        while (j < n) {
          if ((lMayNull && xs.isNullAt(j)) || (rMayNull && ys.isNullAt(j))) return null
          j += 1
        }
      }
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (lFloat) xs.getFloat(i).toDouble else xs.getDouble(i)
        val y = if (rFloat) ys.getFloat(i).toDouble else ys.getDouble(i)
        val d = x - y
        s += d * d
        i += 1
      }
      s
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Register SQL-callable forms once per session; idempotent. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "graft_array_cosine", exprs => ArrayCosine(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_array_l2sq", exprs => ArrayL2Sq(exprs(0), exprs(1)), "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_simhash64", exprs => SimHash64(exprs.head), "scala_udf")
    reg.createOrReplaceTempFunction(
      "graft_simhash_md5", exprs => SimHashMd5(exprs.head), "scala_udf")
  }

  def arrayCosine(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_array_cosine", a, b)
  }

  def arrayL2Sq(spark: org.apache.spark.sql.SparkSession, a: Column, b: Column): Column = {
    register(spark)
    call_function("graft_array_l2sq", a, b)
  }

  def simhash64(spark: org.apache.spark.sql.SparkSession, tokens: Column): Column = {
    register(spark)
    call_function("graft_simhash64", tokens)
  }

  def simhashMd5(spark: org.apache.spark.sql.SparkSession, tokens: Column): Column = {
    register(spark)
    call_function("graft_simhash_md5", tokens)
  }

  /** Shingle hashes with given (n, p) baked into the registration. */
  def shingleHashes(
      spark: org.apache.spark.sql.SparkSession,
      tokens: Column,
      n: Int,
      p: Long): Column = {
    val name = s"graft_shingles_$n"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => ShingleHashes(exprs.head, n, p), "scala_udf")
    call_function(name, tokens)
  }

  /** MinHash with a given permutation family: registered per distinct
    * k (the (a,b,p) parameters are baked into the registered closure).
    */
  def minhashSig(
      spark: org.apache.spark.sql.SparkSession,
      hashes: Column,
      as: Seq[Long],
      bs: Seq[Long],
      p: Long): Column = {
    val name = s"graft_minhash_${as.length}"
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, exprs => MinHashSig(exprs.head, as, bs, p), "scala_udf")
    call_function(name, hashes)
  }
}
