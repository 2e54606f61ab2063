package graft.operators

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch heavy hitters — the streaming-sketch shape of
  * vocabulary statistics at 10^12-document scale.
  *
  * Exact heavy-hitter counting (`q_vocab_topk`) shuffles one row per
  * DISTINCT word: at web scale the long vocabulary tail (typos, ids, urls)
  * makes that shuffle vocabulary-sized. The sketch path never shuffles the
  * vocabulary at all:
  *
  *   1. ONE pass builds a d×w Count-Min sketch (Cormode & Muthukrishnan
  *      2005) as a custom Catalyst [[TypedImperativeAggregate]]: each
  *      partition accumulates a flat `Array[Long](d*w)` buffer (map-side
  *      partial aggregation — the ObjectHashAggregate partial/final split
  *      Spark gives every declarative aggregate), and the exchange carries
  *      only the d·w longs per partition, NEVER per-word rows.
  *   2. The collected sketch (d·w longs — bytes, not gigabytes) returns to
  *      the plan as a LITERAL array; a second pass probes it per token with
  *      pure built-in expressions (`least(element_at…)`) and keeps only
  *      tokens whose estimate clears the threshold. CMS error is strictly
  *      one-sided (estimate ≥ true count), so no true heavy hitter is ever
  *      lost; the final `distinct` shuffles survivors only — a handful of
  *      rows, not the vocabulary.
  *
  * Bucket hashing is md5-based — deliberately: the exact same bucket falls
  * out of JVM MessageDigest (aggregate update), Spark SQL
  * `conv(substr(md5(…),1,8),16,10)` (probe side), and DuckDB's nibble-sum
  * recipe (oracle), so `q_heavy_hitters` is bit-exact cross-engine. A
  * production deployment would swap in xxHash; the sketch shape (and the
  * plan) are identical.
  */
object Sketch {

  /** Sketch geometry: depth 3 (error probability ≤ exp(-3) per query),
    * width 64 (ε = e/64 ≈ 4.2% of the stream length at sf-test scale; at
    * 100 TB you widen w — the aggregate is parameterized).
    */
  val cmsDepth = 3
  val cmsWidth = 64

  /** Bucket of word `w` in sketch row `r`: first 4 bytes of
    * md5("r:w") as an unsigned 32-bit value, mod width. Must stay in
    * lock-step with [[bucketSql]] and the DuckDB oracle.
    */
  private val mdLocal = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  def bucket(r: Int, w: String, width: Int): Int = {
    val md = mdLocal.get()
    md.reset()
    val d = md.digest(s"$r:$w".getBytes(StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % width).toInt
  }

  /** The same bucket as a Spark SQL expression over column `col`. */
  def bucketSql(r: Int, col: String, width: Int): String =
    s"CAST(conv(substr(md5(concat('$r:', $col)), 1, 8), 16, 10) AS BIGINT) % $width"

  /** The same bucket as a DuckDB expression (no conv(); the proven
    * nibble-positional-sum idiom from the simhash/mix-sample oracles).
    */
  def bucketDuck(r: Int, col: String, width: Int): String = {
    val terms = (1 to 8)
      .map(j => s"(strpos('0123456789abcdef', substr(md5('$r:' || $col), $j, 1)) - 1) * ${1L << (4 * (8 - j))}")
      .mkString(" + ")
    s"($terms) % $width"
  }

  /** Register the aggregate so `expr("cms_sketch(w)")` / SQL resolve it. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("cms_sketch"),
      new ExpressionInfo("graft.operators.Sketch", "cms_sketch"),
      (args: Seq[Expression]) => CountMinAgg(args.head, cmsDepth, cmsWidth))

  /** Heavy hitters over a single string column `w`: all words whose CMS
    * estimate is ≥ `minCount`, with the estimate. Superset semantics by
    * construction (one-sided error); with the planted test corpora the
    * collision overestimate is far below the threshold gap, so the output
    * EQUALS the exact heavy-hitter set and the DuckDB oracle replays the
    * sketch bit-for-bit.
    */
  def heavyHitters(words: DataFrame, minCount: Long): DataFrame =
    probe(words, sketchOf(words), minCount)

  /** Heavy hitters with a self-calibrating threshold: ≥ 1/denom of the
    * stream. The stream length is the sum of any one sketch row (every
    * token increments exactly one bucket per row), so NO extra count job —
    * the sketch pass pays for both the estimates and the threshold.
    */
  def heavyHittersFrac(words: DataFrame, denom: Long): DataFrame = {
    val sk = sketchOf(words)
    val n = sk.take(cmsWidth).sum
    probe(words, sk, math.max(1L, n / denom))
  }

  /** Pass 1: build the sketch (one partial-agged job; d·w longs to the
    * driver — bytes, regardless of corpus size).
    */
  def sketchOf(words: DataFrame): Array[Long] = {
    register(words.sparkSession)
    words.agg(expr("cms_sketch(w)").as("sk")).head().getSeq[Long](0).toArray
  }

  /** Pass 2: probe the literal sketch per token with built-in expressions
    * only, keep survivors, distinct (shuffles survivors, not the vocab).
    */
  private def probe(words: DataFrame, sk: Array[Long], minCount: Long): DataFrame = {
    val skCol = lit(sk)
    val est = (0 until cmsDepth)
      .map(r => element_at(skCol, (expr(bucketSql(r, "w", cmsWidth)) + lit(r * cmsWidth + 1)).cast("int")))
      .reduce((a, b) => least(a, b))
    words
      .withColumn("est", est)
      .where(col("est") >= lit(minCount))
      .distinct()
      .select(col("w"), col("est").cast("long").as("est"))
  }

  // ------------------------------------------------------------------
  // HyperLogLog distinct-count sketch (Flajolet, Fusy, Gandouet, Meunier
  // 2007) — the cardinality companion to the Count-Min frequency sketch.
  //
  // Exact per-group COUNT(DISTINCT v) shuffles one row per distinct value:
  // "distinct URLs per host" over a 100 TB crawl moves the URL universe
  // through the exchange. The HLL path moves 256 longs (2 KB) per
  // (partition, group) instead, regardless of cardinality, and the merge
  // is element-wise max — so registers are also STORABLE (e.g. per crawl
  // drop in the catalog) and unionable later without re-reading data:
  // incremental distinct counting for free.
  //
  // Register hashing is md5-based like the CMS buckets, and every
  // arithmetic step of the estimate is INTEGER (shift, floor-div, max):
  //   j    = first 2 hex digits of md5(v)            (256 registers)
  //   tail = hex digits 3..10 as an unsigned 32-bit value
  //   rho  = leading zeros of tail within 32 bits + 1 (= 33 - bitlen)
  //   M[j] = max rho;  S = sum_j 2^(33 - M[j])
  //   raw_est = ((m^2 * 2^33) div S) * alphaScaled div 10^6
  // `bitlen` is `length(bin(x))` on BOTH engines, so the DuckDB oracle
  // replays the whole estimate bit-for-bit (q_hll_distinct) — no "close
  // enough" comparisons anywhere. The classic small-range linear-counting
  // correction needs ln() (not bit-exact cross-engine), so the operator
  // emits `n_zero` alongside `raw_est` and leaves the correction to the
  // caller; accuracy in the raw regime is asserted in SketchSpec.
  // ------------------------------------------------------------------

  /** m = 256 registers: standard error 1.04/sqrt(256) ≈ 6.5%. */
  val hllM = 256

  /** floor(0.7213 / (1 + 1.079/256) * 1e6) — the alpha_m bias correction
    * as a scaled integer so the estimate stays in integer arithmetic.
    */
  val hllAlphaScaled = 718272L

  /** Register index and rho for one value — must stay in lock-step with
    * the SQL spellings in [[hllRegisterSql]] and the DuckDB oracle.
    */
  def hllJ(d: Array[Byte]): Int = d(0) & 0xff

  def hllRho(d: Array[Byte]): Int = {
    val tail = ((d(1) & 0xffL) << 24) | ((d(2) & 0xffL) << 16) |
      ((d(3) & 0xffL) << 8) | (d(4) & 0xffL)
    if (tail == 0L) 33 else 33 - (64 - java.lang.Long.numberOfLeadingZeros(tail))
  }

  /** Fold one value into HLL registers `regs` (element-wise max of rho). */
  def hllAdd(regs: Array[Long], v: String): Unit = {
    val d = md5Of(v)
    val rho = hllRho(d).toLong
    if (rho > regs(hllJ(d))) regs(hllJ(d)) = rho
  }

  private[operators] def md5Of(v: String): Array[Byte] = {
    val md = mdLocal.get()
    md.reset()
    md.digest(v.getBytes(StandardCharsets.UTF_8))
  }

  /** (j, rho) of column `col` as Spark SQL — the parity spelling used by
    * SketchSpec to pin the JVM aggregate against the engine's own md5/bin.
    */
  def hllRegisterSql(col: String): (String, String) = {
    val j = s"CAST(conv(substr(md5($col), 1, 2), 16, 10) AS INT)"
    val tail = s"CAST(conv(substr(md5($col), 3, 8), 16, 10) AS BIGINT)"
    (j, s"CASE WHEN $tail = 0 THEN 33 ELSE 33 - length(bin($tail)) END")
  }

  def registerHll(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("hll_sketch"),
      new ExpressionInfo("graft.operators.Sketch", "hll_sketch"),
      (args: Seq[Expression]) => HllAgg(args.head))

  /** Per-group approximate distinct count: (group, raw_est, n_zero).
    * ONE partial-agged pass; the exchange carries 256 longs per
    * (partition, group), never the values. All estimate arithmetic is
    * integer, so the result is deterministic under any partitioning and
    * bit-exactly replayable by the DuckDB oracle.
    */
  def hllDistinct(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    registerHll(df.sparkSession)
    df.groupBy(col(groupCol))
      // the aggregate hashes the UTF8String representation; the CAST makes
      // any value type legal and pins the cross-engine spelling (DuckDB's
      // CAST AS VARCHAR) for non-string keys
      .agg(expr(s"hll_sketch(CAST($valueCol AS STRING))").as("regs"))
      .selectExpr(
        groupCol,
        // S = sum_j 2^(33 - M[j]); M in [0, 33] so terms are in [1, 2^33]
        // and S <= 256 * 2^33 = 2^41 — BIGINT-safe
        """aggregate(regs, CAST(0 AS BIGINT),
          |  (acc, r) -> acc + shiftleft(CAST(1 AS BIGINT), 33 - CAST(r AS INT))) AS s""".stripMargin,
        "CAST(size(filter(regs, r -> r = 0)) AS INT) AS n_zero")
      .selectExpr(
        groupCol,
        // T = (m^2 << 33) div S <= m * 2^33 = 2^41 (S >= m: every term >= 1),
        // so T * alphaScaled < 2^41 * 2^20 stays under 2^63
        s"(((CAST(${hllM.toLong * hllM} AS BIGINT) * shiftleft(CAST(1 AS BIGINT), 33)) div s) * $hllAlphaScaled) div 1000000 AS raw_est",
        "n_zero")
  }

  /** The raw registers of one un-grouped corpus — exposed for the
    * mergeability spec (union registers == element-wise max) and the
    * catalog's incremental distinct sidecars.
    */
  def hllRegistersOf(df: DataFrame, valueCol: String): Array[Long] = {
    registerHll(df.sparkSession)
    df.agg(expr(s"hll_sketch(CAST($valueCol AS STRING))").as("regs"))
      .head().getSeq[Long](0).toArray
  }

  /** (raw_est, n_zero) from a register array — the IDENTICAL integer
    * arithmetic as the SQL spelling in [[hllDistinct]] (shifts and floor
    * divisions over longs), so a JVM-side consumer of stored registers
    * (the catalog sidecar path) agrees bit-for-bit with the SQL/oracle
    * path.
    */
  def hllEstimate(regs: Array[Long]): (Long, Int) = {
    var s = 0L
    var zeros = 0
    var j = 0
    while (j < regs.length) {
      s += 1L << (33 - regs(j).toInt)
      if (regs(j) == 0L) zeros += 1
      j += 1
    }
    val t = (hllM.toLong * hllM * (1L << 33)) / s
    ((t * hllAlphaScaled) / 1000000L, zeros)
  }

  // ------------------------------------------------------------------
  // KMV / theta sketch (bottom-k distinct hashes — Bar-Yossef et al. 2002;
  // Dasgupta et al.'s theta-sketch framing): the third sketch family, and
  // the one HLL cannot replace — bottom-k sketches support SET OPERATIONS.
  // "How many of drop B's urls are NEW vs drop A" is an intersection
  // estimate, and HLL registers only union. A KMV sketch keeps the k
  // smallest 60-bit hashes of the distinct values; θ = k-th smallest / 2^60
  // estimates the sampled fraction of the hash domain, so |D| ≈ (k-1)/θ,
  // and because every sketch retains literal hash VALUES, A∩B is just the
  // shared hashes below min(θ_A, θ_B), scaled back up.
  //
  // Scale shape: one partial-agged pass per drop; the exchange carries at
  // most k longs per (partition, group) — never the values. Merge = union
  // + trim to k (associative, commutative, idempotent — duplicate rows and
  // at-least-once replay change nothing). Every estimate step is integer
  // (one BigInt floor division), and the hash is the first 15 md5 hex
  // digits, so the DuckDB oracle replays sketches AND estimates
  // bit-for-bit (q_kmv_ops).
  // ------------------------------------------------------------------

  /** k = 256 retained hashes: relative error ~1/sqrt(k-2) ≈ 6.3%. */
  val kmvK = 256

  /** Hash domain: 15 md5 hex digits = [0, 2^60) — BIGINT-safe on both
    * engines (DuckDB's nibble-sum replay never exceeds 15 * 2^56 < 2^63).
    */
  val kmvDomain: Long = 1L << 60

  /** First 15 hex digits of md5(v) as a long — must stay in lock-step
    * with [[kmvHashSql]] and [[kmvHashDuck]].
    */
  def kmvHash(v: String): Long = {
    val d = md5Of(v)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >>> 4)
  }

  /** The same hash as a Spark SQL expression (the SketchSpec parity pin). */
  def kmvHashSql(col: String): String =
    s"CAST(conv(substr(md5($col), 1, 15), 16, 10) AS BIGINT)"

  /** The same hash as a DuckDB expression (no conv(); the proven
    * nibble-positional-sum idiom).
    */
  def kmvHashDuck(col: String): String = {
    val terms = (1 to 15)
      .map(j => s"(strpos('0123456789abcdef', substr(md5($col), $j, 1)) - 1) * ${1L << (4 * (15 - j))}")
      .mkString(" + ")
    s"($terms)"
  }

  def registerKmv(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      FunctionIdentifier("kmv_sketch"),
      new ExpressionInfo("graft.operators.Sketch", "kmv_sketch"),
      (args: Seq[Expression]) => KmvAgg(args.head, kmvK))

  /** θ as an absolute hash bound: a sketch holding fewer than k hashes saw
    * its WHOLE distinct set (exact regime), so θ = the full domain.
    */
  def kmvTheta(sk: Array[Long]): Long =
    if (sk.length < kmvK) kmvDomain else sk.last

  /** Distinct estimate: exact below k; (k-1) · 2^60 / h_k above. */
  def kmvEstimate(sk: Array[Long]): Long =
    if (sk.length < kmvK) sk.length
    else ((BigInt(kmvK - 1) * kmvDomain) / sk.last).toLong

  /** Intersection estimate: shared hashes below min(θ_A, θ_B), scaled by
    * the sampled fraction. Exact when both sketches are exact.
    */
  def kmvIntersect(a: Array[Long], b: Array[Long]): Long = {
    val theta = math.min(kmvTheta(a), kmvTheta(b))
    val bs = b.toSet
    val n = a.count(h => h < theta && bs(h))
    ((BigInt(n) * kmvDomain) / theta).toLong
  }

  /** Union estimate: merged distinct hashes below min(θ_A, θ_B), re-trimmed
    * to k (the union SKETCH — this is why merge stays a valid sketch).
    */
  def kmvUnion(a: Array[Long], b: Array[Long]): Long = {
    val theta = math.min(kmvTheta(a), kmvTheta(b))
    val m = (a ++ b).distinct.filter(_ < theta).sorted
    if (m.length >= kmvK) ((BigInt(kmvK - 1) * kmvDomain) / m(kmvK - 1)).toLong
    else ((BigInt(m.length) * kmvDomain) / theta).toLong
  }

  /** Crawl-drop set algebra in ONE partial-agged pass: `aExpr` / `bExpr`
    * are SQL expressions yielding the value when the row belongs to the
    * drop and NULL otherwise (nulls never enter a sketch), so both drop
    * sketches share a single scan. Returns one row:
    * (est_a, est_b, est_union, est_inter, est_only_b) — "only_b" is the
    * new-content question by inclusion-exclusion on the B side.
    */
  def kmvSetOps(df: DataFrame, aExpr: String, bExpr: String): DataFrame = {
    val spark = df.sparkSession
    registerKmv(spark)
    val r = df.agg(
      expr(s"kmv_sketch(CAST(($aExpr) AS STRING))").as("a"),
      expr(s"kmv_sketch(CAST(($bExpr) AS STRING))").as("b")).head()
    val a = r.getSeq[Long](0).toArray
    val b = r.getSeq[Long](1).toArray
    val (ea, eb) = (kmvEstimate(a), kmvEstimate(b))
    val ei = kmvIntersect(a, b)
    import spark.implicits._
    Seq((ea, eb, kmvUnion(a, b), ei, eb - ei))
      .toDF("est_a", "est_b", "est_union", "est_inter", "est_only_b")
  }
}

/** Count-Min sketch as a typed imperative aggregate: buffer = flat
  * Array[Long](depth*width), update = +1 in one bucket per row, merge =
  * element-wise sum — associative/commutative, so Spark's partial/final
  * aggregation split (and AQE re-planning) is free to place it anywhere.
  */
case class CountMinAgg(
    child: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
  with ImplicitCastInputTypes {

  // declared input type so `cms_sketch(int_col)` coerces (or is rejected) at
  // ANALYSIS time instead of a raw ClassCastException at execution
  override def inputTypes = Seq(StringType)  // inferred: AbstractDataType is private[sql]

  override def createAggregationBuffer(): Array[Long] = new Array[Long](depth * width)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val w = v.asInstanceOf[UTF8String].toString
      var r = 0
      while (r < depth) {
        buf(r * width + Sketch.bucket(r, w, width)) += 1L
        r += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { b1(i) += b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CountMinAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): CountMinAgg =
    copy(child = newChild)
  override def prettyName: String = "cms_sketch"
}

/** HyperLogLog registers as a typed imperative aggregate: buffer = flat
  * Array[Long](256), update = max(register, rho) in one register per row,
  * merge = element-wise max — associative/commutative/idempotent, so the
  * partial/final split is free AND re-processing a row can never change
  * the result (exactly-once not required of the input).
  */
case class HllAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression]
  with ImplicitCastInputTypes {

  // see CountMinAgg.inputTypes — analysis-time coercion, not runtime CCE
  override def inputTypes = Seq(StringType)  // inferred: AbstractDataType is private[sql]

  override def createAggregationBuffer(): Array[Long] = new Array[Long](Sketch.hllM)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) Sketch.hllAdd(buf, v.asInstanceOf[UTF8String].toString)
    buf
  }

  override def merge(b1: Array[Long], b2: Array[Long]): Array[Long] = {
    var i = 0
    while (i < b1.length) { if (b2(i) > b1(i)) b1(i) = b2(i); i += 1 }
    b1
  }

  override def eval(buf: Array[Long]): Any = ArrayData.toArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.length * 8)
    bb.asLongBuffer().put(buf)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val out = new Array[Long](bytes.length / 8)
    ByteBuffer.wrap(bytes).asLongBuffer().get(out)
    out
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(newOffset: Int): HllAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): HllAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): HllAgg =
    copy(child = newChild)
  override def prettyName: String = "hll_sketch"
}

/** Bottom-k hashes as a typed imperative aggregate: buffer = an ordered set
  * of at most k distinct 60-bit hashes, update = insert-if-below-cap-or-
  * below-max, merge = set union + trim — associative/commutative/idempotent
  * (re-processing a row can never change the result). The exchange carries
  * at most k longs per partition; the values themselves never shuffle.
  */
case class KmvAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.TreeSet[java.lang.Long]]
  with UnaryLike[Expression] with ImplicitCastInputTypes {

  // see CountMinAgg.inputTypes — analysis-time coercion, not runtime CCE
  override def inputTypes = Seq(StringType)  // inferred: AbstractDataType is private[sql]

  override def createAggregationBuffer(): java.util.TreeSet[java.lang.Long] =
    new java.util.TreeSet[java.lang.Long]()

  private def insert(buf: java.util.TreeSet[java.lang.Long], h: Long): Unit =
    if (buf.size < k) { buf.add(h); () }
    else if (h < buf.last()) {
      if (buf.add(h)) { buf.remove(buf.last()); () }
    }

  override def update(buf: java.util.TreeSet[java.lang.Long],
                      input: InternalRow): java.util.TreeSet[java.lang.Long] = {
    val v = child.eval(input)
    if (v != null) insert(buf, Sketch.kmvHash(v.asInstanceOf[UTF8String].toString))
    buf
  }

  override def merge(b1: java.util.TreeSet[java.lang.Long],
                     b2: java.util.TreeSet[java.lang.Long]): java.util.TreeSet[java.lang.Long] = {
    val it = b2.iterator()
    while (it.hasNext) insert(b1, it.next())
    b1
  }

  override def eval(buf: java.util.TreeSet[java.lang.Long]): Any = {
    val out = new Array[Long](buf.size)
    val it = buf.iterator()
    var i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    ArrayData.toArrayData(out) // ascending — out.last IS the k-th smallest
  }

  override def serialize(buf: java.util.TreeSet[java.lang.Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(buf.size * 8)
    val lb = bb.asLongBuffer()
    val it = buf.iterator()
    while (it.hasNext) lb.put(it.next())
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): java.util.TreeSet[java.lang.Long] = {
    val buf = new java.util.TreeSet[java.lang.Long]()
    val lb = ByteBuffer.wrap(bytes).asLongBuffer()
    while (lb.hasRemaining) buf.add(lb.get())
    buf
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false
  override def withNewMutableAggBufferOffset(newOffset: Int): KmvAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): KmvAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): KmvAgg =
    copy(child = newChild)
  override def prettyName: String = "kmv_sketch"
}
