package graft.etl.expressions

import com.fasterxml.jackson.core.JsonToken
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen-capable JSON-object → map<string,string> parse, registered
  * as the SQL function `json_to_string_map`.
  *
  * Spark's `from_json` (JsonToStructs) is `CodegenFallback`: one
  * occurrence anywhere in a projection knocks the whole stage out of
  * whole-stage codegen and disables subexpression elimination — measured
  * ~4× on the normalize path (see Normalize scaladoc). This expression
  * has a real `doGenCode` (a static-call into [[JsonToStringMap.parse]])
  * so the surrounding projection stays codegen'd.
  *
  * Semantics match `from_json(line, "map<string,string>")` PERMISSIVE:
  *   - non-object / malformed / trailing-garbage input → null (the Go
  *     `json.Unmarshal` failure contract, `cmd/etl/main.go:365-374`);
  *   - string values decoded; scalar non-strings keep their raw literal
  *     text; nested objects/arrays keep compact JSON text;
  *   - duplicate keys: last value wins;
  *   - JSON null value → null map value.
  * Keys are decoded JSON names (escapes resolved): an escaped spelling
  * of a name and its plain spelling are one key; the last one wins.
  * Interpreted and generated code call the same static parse, so a plan
  * that falls back from codegen returns the same map.
  *
  * The value rule is [[JsonText.value]], shared with the normalize
  * kernel [[ParseLogLine]]: the normalize reads its canonical slots,
  * the `kubernetes` fields and the residual `fields` map in one parse
  * of a line, with the values this map holds under the same keys.
  *
  * The map keeps every key, in first-position order. Callers that need
  * only some keys of a line should not build the whole map and then
  * look keys up in it: each lookup scans the map, and a second parse of
  * a nested value repeats work the first parse already did. The
  * normalize therefore reads fixed slots through [[ParseLogLine]]; this
  * function serves SQL callers, for whom a map of all keys is the
  * result they asked for.
  */
case class JsonToStringMap(child: Expression)
    extends UnaryExpression {

  // AbstractDataType/ExpectsInputTypes are private[sql] in Spark 4 —
  // manual input type check instead.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType}")
  override def dataType: DataType =
    MapType(StringType, StringType, valueContainsNull = true)
  override def nullable: Boolean = true
  override def prettyName: String = "json_to_string_map"

  override def nullSafeEval(input: Any): Any =
    JsonToStringMap.parse(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = JsonToStringMap.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $cls.parse($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonToStringMap =
    copy(child = newChild)
}

object JsonToStringMap {
  /** Static entry used by both interpreted eval and generated code.
    * Returns null (never throws) on anything Go's Unmarshal-to-map
    * would reject. */
  def parse(s: UTF8String): MapData = {
    if (s == null) return null
    try {
      val parser = JsonText.factory.createParser(s.getBytes)
      try {
        if (parser.nextToken() != JsonToken.START_OBJECT) return null
        val keys = new java.util.LinkedHashMap[String, UTF8String]()
        var tok = parser.nextToken()
        while (tok == JsonToken.FIELD_NAME) {
          val key = parser.currentName()
          keys.put(key, JsonText.utf8(JsonText.value(parser, parser.nextToken())))
          tok = parser.nextToken()
        }
        if (tok != JsonToken.END_OBJECT) return null
        if (parser.nextToken() != null) return null // trailing garbage
        val n = keys.size()
        val ks = new Array[AnyRef](n)
        val vs = new Array[AnyRef](n)
        var i = 0
        val it = keys.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          ks(i) = UTF8String.fromString(e.getKey)
          vs(i) = e.getValue
          i += 1
        }
        new ArrayBasedMapData(
          new GenericArrayData(ks), new GenericArrayData(vs))
      } finally parser.close()
    } catch {
      case _: Exception => null
    }
  }
}

/** Codegen-capable "drop these literal keys from a string map" — the
  * redaction/residual-fields primitive. `map_filter` is a
  * higher-order function (CodegenFallback + per-element lambda
  * dispatch); for a FIXED key set this is a single static call that
  * keeps the projection inside whole-stage codegen. */
case class MapRemoveKeys(child: Expression, removeKeys: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case MapType(StringType, StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires map<string,string>, got $other")
  }
  override def dataType: DataType = child.dataType
  override def prettyName: String = "map_remove_keys"

  @transient private lazy val keySet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String]()
    removeKeys.foreach(k => s.add(UTF8String.fromString(k)))
    s
  }

  override def nullSafeEval(input: Any): Any =
    MapRemoveKeys.remove(input.asInstanceOf[MapData], keySet)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = MapRemoveKeys.getClass.getName.stripSuffix("$")
    val setRef = ctx.addReferenceObj("removeKeySet", keySet,
      classOf[java.util.HashSet[UTF8String]].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = $cls.remove($c, $setRef);
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): MapRemoveKeys =
    copy(child = newChild)
}

object MapRemoveKeys {
  def remove(m: MapData, drop: java.util.HashSet[UTF8String]): MapData = {
    val n = m.numElements()
    val keys = m.keyArray()
    val values = m.valueArray()
    val ks = new java.util.ArrayList[AnyRef](n)
    val vs = new java.util.ArrayList[AnyRef](n)
    var i = 0
    while (i < n) {
      val k = keys.getUTF8String(i)
      if (!drop.contains(k)) {
        ks.add(k)
        vs.add(if (values.isNullAt(i)) null else values.getUTF8String(i))
      }
      i += 1
    }
    new ArrayBasedMapData(
      new GenericArrayData(ks.toArray), new GenericArrayData(vs.toArray))
  }
}

/** Codegen-capable dot product over two array<double> columns.
  *
  * The built-in route (`aggregate(zip_with(a, b, _*_), 0.0, _+_)`) is
  * two higher-order functions — interpreted, per-element lambda
  * dispatch, and run once per CANDIDATE PAIR in similarity search.
  * This is a single static tight loop; sequential-fold order matches
  * the oracle's list_sum semantics. */
case class ArrayDot(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two array<double> inputs, got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayDot.dot(a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ArrayDot.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $cls.dot($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

object ArrayDot {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += a.getDouble(i) * b.getDouble(i); i += 1 }
    s
  }
}

/** Codegen-capable banded sign-LSH: projects an array<double> vector
  * onto `numPlanes` deterministic hyperplanes and packs the sign bits
  * into `numPlanes / rowsPerBand` band patterns (array<int>).
  *
  * The column-expression form of this (a sum of dim literal-coefficient
  * terms per plane, ~8k terms for 128 planes × 64 dims) produces a
  * 100k+-node Catalyst tree whose generated source blows the compiler
  * — this is ONE static call with a tight loop, so the projection stays
  * a small whole-stage-codegen'd stage. Hyperplane coefficients are a
  * fixed LCG stream (no RNG object): reproducible across sessions,
  * cached per (numPlanes, dim). */
case class LshSignBands(child: Expression, numPlanes: Int, rowsPerBand: Int)
    extends UnaryExpression {
  require(numPlanes % rowsPerBand == 0,
    s"numPlanes=$numPlanes must be a multiple of rowsPerBand=$rowsPerBand")
  // patterns are packed into a NON-NEGATIVE Int: rowsPerBand >= 32
  // would wrap `1 << r` (silently merging planes) or set the sign bit
  // (corrupting the (band << 32 | pattern) long key downstream)
  require(rowsPerBand >= 1 && rowsPerBand <= 31,
    s"rowsPerBand=$rowsPerBand must be in [1, 31]")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "lsh_sign_bands"

  override def nullSafeEval(input: Any): Any =
    LshSignBands.bands(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      numPlanes, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = LshSignBands.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = $cls.bands($c, $numPlanes, $rowsPerBand);")
  }

  override protected def withNewChildInternal(newChild: Expression): LshSignBands =
    copy(child = newChild)
}

object LshSignBands {
  /** Deterministic pseudo-random hyperplane coefficient in [-1, 1):
    * splitmix64 finalizer over (p, d). A single LCG step here is NOT
    * enough: LCGs are affine, so linearly-related (p, d) seeds yield
    * planes that differ by a constant in every coordinate — effectively
    * one plane, and banding stops improving recall (measured: misses
    * flat from 32 to 64 bands). The xor-shift-multiply finalizer breaks
    * the linearity; no RNG object, reproducible across sessions. */
  def planeCoef(p: Int, d: Int): Double = {
    var z = (p.toLong << 32) ^ (d.toLong & 0xffffffffL)
    z += 0x9E3779B97F4A7C15L
    z ^= z >>> 30; z *= 0xBF58476D1CE4E5B9L
    z ^= z >>> 27; z *= 0x94D049BB133111EBL
    z ^= z >>> 31
    // 53 mantissa-sized bits → [0,1) → [-1,1)
    (z >>> 11).toDouble / (1L << 53).toDouble * 2.0 - 1.0
  }

  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def coefs(numPlanes: Int, dim: Int): Array[Array[Double]] =
    coefCache.computeIfAbsent((numPlanes, dim), { case (np, d) =>
      Array.tabulate(np, d)(planeCoef)
    })

  def bands(a: org.apache.spark.sql.catalyst.util.ArrayData,
      numPlanes: Int, rowsPerBand: Int): GenericArrayData = {
    val dim = a.numElements()
    val cf = coefs(numPlanes, dim)
    val out = new Array[Int](numPlanes / rowsPerBand)
    var p = 0
    var b = 0
    while (b < out.length) {
      var bits = 0
      var r = 0
      while (r < rowsPerBand) {
        val row = cf(p)
        var s = 0.0
        var i = 0
        while (i < dim) { s += a.getDouble(i) * row(i); i += 1 }
        if (s >= 0) bits |= 1 << r
        r += 1
        p += 1
      }
      out(b) = bits
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen-capable per-document MinHash signature: all `numHashes`
  * permutation minima over a doc's hashed-shingle array in ONE tight
  * loop.
  *
  * The aggregate form (explode shingles → groupBy(doc) with 64 `min`
  * columns) pays 100-300× row amplification plus a 65-slot aggregation
  * buffer update per shingle row — measured as the dominant cost of
  * `dd_minhash_lsh` (~3 s of 3.9 s at sf0.1). A document is one row,
  * so the signature is row-local: this expression computes the same
  * 64 minima (identical `(a, b)` parameter family, identical pmod
  * arithmetic — signatures are bit-equal to the aggregate path's) with
  * no explode, no aggregation machinery, and no shuffle of partials,
  * inside whole-stage codegen. */
case class MinHashSig(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes >= 1 && numHashes <= 4096, s"numHashes=$numHashes")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<bigint>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.sig(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      numHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = MinHashSig.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.sig($c, $numHashes);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Mersenne-prime universal-hash family — the single source of truth
    * shared with the aggregate path (`Dedup.hashParams` delegates
    * here), so both paths produce bit-identical signatures. */
  val P = 2147483647L // 2^31 - 1
  def params(numHashes: Int): (Array[Long], Array[Long]) = {
    val as = new Array[Long](numHashes)
    val bs = new Array[Long](numHashes)
    var i = 1
    while (i <= numHashes) {
      val a = (2654435761L * i + 1) % P
      as(i - 1) = if (a == 0) 1L else a
      bs(i - 1) = (40503L * i * i + 2654435769L) % P
      i += 1
    }
    (as, bs)
  }

  private val paramCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def cachedParams(n: Int): (Array[Long], Array[Long]) =
    paramCache.computeIfAbsent(n, params(_))

  def sig(a: org.apache.spark.sql.catalyst.util.ArrayData,
      numHashes: Int): GenericArrayData = {
    val (as, bs) = cachedParams(numHashes)
    val out = new Array[Long](numHashes)
    java.util.Arrays.fill(out, Long.MaxValue)
    val n = a.numElements()
    var i = 0
    while (i < n) {
      val hp = java.lang.Math.floorMod(a.getLong(i), P)
      var k = 0
      while (k < numHashes) {
        val v = java.lang.Math.floorMod(hp * as(k) + bs(k), P)
        if (v < out(k)) out(k) = v
        k += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen-capable PQ encoder: nearest sub-codebook index per subspace
  * in one tight loop. The column-expression form (plan-time argmin over
  * m × kSub literal-coefficient dot products) generates Janino-breaking
  * method bodies already at 16 × 32 codebooks — the same wall
  * [[LshSignBands]] documents for plane projections. Codebooks are
  * DATA-derived (k-means output), so they ride along as a serialized
  * reference object rather than literals. Ties break to the lowest
  * index (matching the struct-argmin ordering used elsewhere). */
case class PqEncode(child: Expression,
    codebooks: Array[Array[Array[Double]]]) extends UnaryExpression {
  require(codebooks.nonEmpty && codebooks.head.nonEmpty)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(input: Any): Any =
    PqEncode.encode(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PqEncode.getClass.getName.stripSuffix("$")
    val cb = ctx.addReferenceObj("pqCodebooks", codebooks,
      "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.encode($c, $cb);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)
}

/** Codegen-capable modal multiplicity of a string array: the count of
  * the single most frequent element, in one O(n) hash pass.
  *
  * The column form it replaces —
  * `array_max(transform(array_distinct(g), x => size(filter(g, _ === x))))`
  * — is O(distinct × total) per DOCUMENT with interpreted per-element
  * lambda dispatch: quadratic in document length, so one pathological
  * 100k-token document becomes a ~10^10-operation straggler pinning a
  * single task. Per-row work must stay linear in row size at 100 TB. */
case class ModalCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got $other")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "modal_count"

  override def nullSafeEval(input: Any): Any =
    ModalCount.modal(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = ModalCount.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $cls.modal($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): ModalCount =
    copy(child = newChild)
}

object ModalCount {
  def modal(a: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    val n = a.numElements()
    if (n == 0) return 0
    val counts = new java.util.HashMap[UTF8String, Int](n * 2)
    var best = 0
    var i = 0
    while (i < n) {
      // null elements count as a value like the SQL equality they
      // replace would NOT — but n-gram arrays are containsNull=false
      // by construction; guard anyway
      val s = if (a.isNullAt(i)) null else a.getUTF8String(i)
      val c = counts.merge(s, 1, (x, y) => x + y)
      if (c > best) best = c
      i += 1
    }
    best
  }
}

/** Codegen-capable k-nearest-centroid selection: the `k` cell ids
  * whose centroids minimize squared L2 distance to the vector, ranked
  * by (distance, index) — `k = 1` is the IVF assignment, `k = nprobe`
  * the probe list.
  *
  * The column form this replaces (a plan-time argmin/array_sort over C
  * struct(dot, i) terms, each dot a literal-coefficient expansion) is
  * C × dim Catalyst nodes: fine at C = 16, Janino-breaking well before
  * the C ≈ √n a real IVF wants at 10^9 vectors (~30k centroids) — the
  * same wall [[LshSignBands]] and [[PqEncode]] document. Here the
  * centroid matrix rides along as a reference object and the argmin is
  * one tight loop. Arithmetic is IDENTICAL to the old column form
  * (sequential dot, s = dot * -2 + |c|², ties to the lowest index), so
  * assignments — and therefore trained models — are bit-equal. */
case class NearestCells(child: Expression,
    centroids: Array[Array[Double]], k: Int) extends UnaryExpression {
  require(centroids.nonEmpty && k >= 1, s"centroids=${centroids.length} k=$k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<double>, got $other")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"

  // |c|² per centroid, folded in the same order the column form used
  @transient private lazy val c2: Array[Double] =
    centroids.map(_.map(x => x * x).sum)

  override def nullSafeEval(input: Any): Any =
    NearestCells.cells(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      centroids, c2, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = NearestCells.getClass.getName.stripSuffix("$")
    val cents = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
    val norms = ctx.addReferenceObj("ivfCentroidNorms", c2, "double[]")
    nullSafeCodeGen(ctx, ev,
      c => s"${ev.value} = $cls.cells($c, $cents, $norms, $k);")
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
}

object NearestCells {
  def cells(a: org.apache.spark.sql.catalyst.util.ArrayData,
      cents: Array[Array[Double]], c2: Array[Double],
      k: Int): GenericArrayData = {
    val C = cents.length
    val kk = math.min(k, C)
    val bestS = new Array[Double](kk)
    val bestI = new Array[Int](kk)
    var filled = 0
    var i = 0
    while (i < C) {
      val c = cents(i)
      val n = math.min(a.numElements(), c.length)
      var dot = 0.0
      var d = 0
      while (d < n) { dot += a.getDouble(d) * c(d); d += 1 }
      val s = dot * -2.0 + c2(i)
      // insertion position: strictly-greater entries shift right, so
      // equal distances keep the earlier (lower) centroid index first
      var p = filled
      while (p > 0 && bestS(p - 1) > s) p -= 1
      if (p < kk) {
        var m = math.min(filled, kk - 1)
        while (m > p) { bestS(m) = bestS(m - 1); bestI(m) = bestI(m - 1); m -= 1 }
        bestS(p) = s
        bestI(p) = i
        if (filled < kk) filled += 1
      }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(bestI, filled))
  }
}

/** Codegen-capable centroid residual: out[d] = vec[d] − centroid[cell][d].
  * The interpreted form it replaces (`zip_with(vec,
  * element_at(centroidsLiteral, cell + 1), _ - _)`) is a higher-order
  * lambda over a C × dim array literal, evaluated per CORPUS row in
  * IVF-PQ training and encode — the same interpreted-hot-loop class as
  * the ADC scan [[PqAdc]] killed. Dimension mismatch fails loudly
  * (PqEncode's contract: silent garbage is worse than an exception). */
case class CentroidResidual(left: Expression, right: Expression,
    centroids: Array[Array[Double]])
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  require(centroids.nonEmpty)

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, int), got $other")
    }
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "centroid_residual"

  override def nullSafeEval(vec: Any, cell: Any): Any =
    CentroidResidual.residual(
      vec.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      cell.asInstanceOf[Int], centroids)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = CentroidResidual.getClass.getName.stripSuffix("$")
    val cents = ctx.addReferenceObj("ivfCentroids", centroids, "double[][]")
    nullSafeCodeGen(ctx, ev,
      (v, c) => s"${ev.value} = $cls.residual($v, $c, $cents);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidResidual =
    copy(left = newLeft, right = newRight)
}

object CentroidResidual {
  def residual(a: org.apache.spark.sql.catalyst.util.ArrayData, cell: Int,
      cents: Array[Array[Double]]): GenericArrayData = {
    if (cell < 0 || cell >= cents.length) throw new IllegalArgumentException(
      s"centroid_residual: cell $cell out of range for ${cents.length} centroids")
    val c = cents(cell)
    if (a.numElements() != c.length) throw new IllegalArgumentException(
      s"centroid_residual: vector dim ${a.numElements()} != centroid dim ${c.length}")
    val out = new Array[Double](c.length)
    var d = 0
    while (d < c.length) { out(d) = a.getDouble(d) - c(d); d += 1 }
    new GenericArrayData(out)
  }
}

/** Codegen-capable PQ asymmetric-distance (ADC) accumulation:
  * Σ_j lut[j][code[j]] in one tight loop.
  *
  * This is THE loop product quantization exists to make cheap — it runs
  * once per (corpus row × query) during the ADC scan. The built-in form
  * (`aggregate(zip_with(code, lut, (c, l) => element_at(l, c + 1)),
  * 0.0, _+_)`) is two nested higher-order functions: CodegenFallback,
  * per-element lambda dispatch, and a fresh zipped array materialized
  * per row — interpreted overhead that erases most of the compressed-
  * scan win at scale. Here it is one static call inside whole-stage
  * codegen. Fold order is ascending j, identical to `aggregate`'s
  * sequential fold, so results are bit-equal to the interpreted form
  * (asserted in PqSpec).
  *
  * The LUT is a per-query DATA column (broadcast-joined), not a
  * plan-time constant — hence a binary expression over two columns
  * rather than a reference object like [[PqEncode]]'s codebooks. */
case class PqAdc(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(ArrayType(DoubleType, _), _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<int>, array<array<double>>), got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def nullSafeEval(code: Any, lut: Any): Any =
    PqAdc.adc(code.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lut.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PqAdc.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (c, l) => s"${ev.value} = $cls.adc($c, $l);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(left = newLeft, right = newRight)
}

object PqAdc {
  def adc(code: org.apache.spark.sql.catalyst.util.ArrayData,
      lut: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val m = code.numElements()
    // strict like the ANSI element_at it replaces: a code outside its
    // LUT row means corrupted encode output — fail, don't read garbage
    if (lut.numElements() != m) throw new IllegalArgumentException(
      s"pq_adc: code length $m != lut length ${lut.numElements()}")
    var s = 0.0
    var j = 0
    while (j < m) {
      val row = lut.getArray(j)
      val c = code.getInt(j)
      if (c < 0 || c >= row.numElements()) throw new IllegalArgumentException(
        s"pq_adc: code $c out of range for LUT row of ${row.numElements()}")
      s += row.getDouble(c)
      j += 1
    }
    s
  }
}

object PqEncode {
  def encode(a: org.apache.spark.sql.catalyst.util.ArrayData,
      cb: Array[Array[Array[Double]]]): GenericArrayData = {
    val m = cb.length
    val subDim = cb(0)(0).length
    // fail fast on ragged vectors: getDouble past numElements is an
    // UNCHECKED off-heap read on UnsafeArrayData — silent garbage
    // codes, not an exception (dim contract as in Similarity.inferDim)
    if (a.numElements() != m * subDim) throw new IllegalArgumentException(
      s"pq_encode: vector dim ${a.numElements()} does not match " +
        s"codebooks ($m x $subDim)")
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val base = j * subDim
      val book = cb(j)
      var best = 0
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < book.length) {
        val c = book(ci)
        var d = 0.0
        var t = 0
        while (t < subDim) {
          val diff = a.getDouble(base + t) - c(t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = ci }
        ci += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen-capable sorted as-of index: the 0-based index of the
  * GREATEST element of an ASCENDING-sorted `array<long>` that is
  * <= `ts`, or NULL if every element is greater — the binary-search
  * kernel of the broadcast as-of join (`TimeSeries.asofJoinBroadcast`):
  * the big side probes a per-key sorted history in O(log h) with no
  * shuffle and no per-row array scan (the higher-order
  * `filter`/`array_max` encoding walks the whole history per row,
  * interpreted). Returns the index rather than a value so callers
  * extract ANY payload column with native `element_at(arr, idx + 1)` —
  * one search serves many payloads. Sortedness is the caller's
  * contract (`sort_array` at history build time); unsorted input
  * returns an arbitrary crossing index, garbage-in-garbage-out like
  * any binary search. */
case class SortedAsofIndex(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (long, array<long>), got $other")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "sorted_asof_idx"

  override def nullSafeEval(ts: Any, arr: Any): Any = {
    val i = SortedAsofIndex.search(ts.asInstanceOf[Long],
      arr.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (i < 0) null else i
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = SortedAsofIndex.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (ts, arr) => s"""
      int graft_asof_i = $cls.search($ts, $arr);
      if (graft_asof_i < 0) { ${ev.isNull} = true; }
      else { ${ev.value} = graft_asof_i; }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedAsofIndex =
    copy(left = newLeft, right = newRight)
}

object SortedAsofIndex {
  /** Greatest i with arr(i) <= ts, else -1 (arr ascending). */
  def search(ts: Long,
      arr: org.apache.spark.sql.catalyst.util.ArrayData): Int = {
    var lo = 0
    var hi = arr.numElements() - 1
    var res = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (arr.getLong(mid) <= ts) { res = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    res
  }
}
