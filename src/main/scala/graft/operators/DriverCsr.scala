package graft.operators

import org.apache.spark.internal.Logging
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** The one driver gate behind every graph operator: it decides whether a
  * graph runs on the driver and, when it does, hands the operator its
  * edges as dense int ids. Each decision is logged as one INFO line
  * (`driver gate: <operator> rows=<n> bytes=<estimate> side=driver|distributed`).
  *
  * [[edges]] caches the caller's edge frame, runs one job for the row
  * count and the string widths, and admits rows <= `maxEdges` whose
  * estimated heap fits [[MaxBytes]]. A frame that passes is collected
  * once and its first two columns are interned into one dictionary
  * (node `nodeVals(i)` ↔ id i, sorted under [[ordering]] when asked);
  * the operator runs every round as an array loop, on the edge arrays or
  * on a [[Csr]] built from them, and hands its rows to [[Edges.frame]],
  * a local relation ([[Edges.rddFrame]] for ConnectedComponents and
  * Mst). No driver-side round starts a Spark job. A frame
  * above the gate stays cached for the operator's distributed loop, which
  * is both the path for large graphs and the reference the specs pin the
  * driver path against. `maxEdges = 0` forces the distributed loop on
  * any non-empty frame.
  *
  * Driver memory contract. The collected rows are estimated at 64 bytes
  * per row plus 16 per non-string column and 48 + 2·chars per string
  * column, and the gate admits at most [[MaxBytes]] of that. A live-heap
  * class histogram (JDK 17, compressed oops, 400k collected rows)
  * measured 103 bytes/row for two longs (estimate 96), 108 for three
  * longs (112) and 132 for a long and a 10-char string (148); the
  * dictionary and the int id arrays added 12–13 bytes/row. On top of that
  * come the operator's arrays. A [[Csr]] holds 4 bytes per edge and per
  * node, plus 8 per edge when weighted: one more histogram (400k
  * collected long edges over 50k nodes) measured 1.88 MB for the
  * unweighted CSR (4.7 bytes/edge) and 3.20 MB more for its weights; its
  * build's three int sort orders (12 bytes/edge) are garbage once it
  * returns. Per-node state vectors are 8 bytes per node each. The result
  * rows come on top (landmark distances: up to one per node and
  * landmark). The defaults are comfortable in a few-GB driver;
  * raise an entry's bound only with driver and executor memory to match.
  */
private[operators] object DriverCsr extends Logging {

  /** The default `maxEdges` of every gated entry point. */
  val MaxEdges = 2000000L

  /** The gate's bound on the estimated bytes of the collected rows. */
  val MaxBytes: Long = 256L << 20

  private def decide(op: String, size: String, pass: Boolean): Boolean = {
    logInfo(s"driver gate: $op $size side=${if (pass) "driver" else "distributed"}")
    pass
  }

  /** The simple undirected graph of `edges`: distinct (a, b) with a < b
    * under Spark's ordering. Self-loops and edges with a null endpoint are
    * dropped (`least`/`greatest` skip nulls, so such an edge has a = b).
    */
  def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** `df` rebased onto a cached RDD leaf, a statistics firewall for
    * iterative plans; the RDD is returned for the caller to release.
    */
  def rebase(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd
    rdd.cache()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Binary keys compare by content, as Spark groups them. */
  private def key(v: Any): Any = v match {
    case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
    case x => x
  }

  /** An edge frame after the gate: its row count, estimated bytes and
    * rows with a null in either of the first two columns; the collected
    * rows on the driver path. Off the driver path the distributed loop
    * reads `cached`, the frame rebased onto `cachedRdd`, which [[close]]
    * releases (the gate released it already on the driver path).
    */
  final class Edges private[DriverCsr] (
      val count: Long, val bytes: Long, val nullEndpoints: Long,
      val cached: DataFrame, val cachedRdd: RDD[Row], collected: Option[Array[Row]],
      sorted: Boolean) {

    def onDriver: Boolean = collected.isDefined
    def rows: Array[Row] = collected.get
    def schema: StructType = cached.schema
    def nodeType: DataType = schema.fields(0).dataType

    /** The first two columns interned into one dictionary: node
      * `nodeVals(i)` ↔ id i, and each row's two endpoint ids. Ids follow
      * [[ordering]] when the gate was asked for sorted ids.
      */
    lazy val (nodeVals: Array[Any], src: Array[Int], dst: Array[Int]) = {
      val idx = new java.util.HashMap[Any, Integer]()
      val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      def id(v: Any): Int = {
        val e = idx.get(key(v))
        if (e != null) e.intValue()
        else { idx.put(key(v), vals.length); vals += v; vals.length - 1 }
      }
      val s = rows.map(r => id(r.get(0)))
      val d = rows.map(r => id(r.get(1)))
      if (!sorted) (vals.toArray, s, d)
      else {
        val ord = ordering(nodeType)
        val byValue = vals.indices.toArray.sortWith((i, j) => ord.lt(vals(i), vals(j)))
        val rank = new Array[Int](byValue.length)
        byValue.indices.foreach(r => rank(byValue(r)) = r)
        (byValue.map(vals), s.map(rank), d.map(rank))
      }
    }

    private lazy val ids = {
      val m = new java.util.HashMap[Any, Integer]()
      nodeVals.indices.foreach(i => m.put(key(nodeVals(i)), i))
      m
    }

    /** The id of node value `v`, or -1 when no edge touches it. */
    def idOf(v: Any): Int = Option(ids.get(key(v))).fold(-1)(_.intValue())

    /** The distinct endpoints of the cached frame as one `node` column:
      * the distributed loops' node inventory.
      */
    def nodes: DataFrame = {
      val Array(a, b) = schema.fieldNames.take(2)
      cached.select(col(a).as("node")).union(cached.select(col(b).as("node"))).distinct()
    }

    /** A local result frame over `out`: reading it starts no job. */
    def frame(out: Iterable[Row], outSchema: StructType): DataFrame = {
      import scala.jdk.CollectionConverters._
      cached.sparkSession.createDataFrame(out.toSeq.asJava, outSchema)
    }

    /** [[frame]] as an RDD leaf, sliced one partition per 64k rows (at
      * most 32). Reading it starts a job, but it keeps the plans
      * downstream of ConnectedComponents and Mst as they are: a local
      * relation's size statistics turn their consumers' sort-merge joins
      * into broadcast joins.
      */
    def rddFrame(out: Seq[Row], outSchema: StructType): DataFrame = {
      val spark = cached.sparkSession
      val slices = math.max(1, math.min(32, out.length / 65536 + 1))
      spark.createDataFrame(spark.sparkContext.parallelize(out, slices), outSchema)
    }

    /** [[frame]] of per-node rows: `node` (the key type) then `fields`. */
    def nodeFrame(out: Iterator[Row], fields: StructField*): DataFrame =
      frame(out.toSeq, StructType(StructField("node", nodeType, nullable = true) +: fields))

    def close(): Unit = cachedRdd.unpersist(blocking = false)
  }

  /** Adjacency over nodes 0 until `off.length - 1`: node u's targets are
    * `to(off(u))` until `to(off(u + 1))`, ascending and distinct, and
    * `w` (null for an unweighted graph) holds each target's weight.
    */
  final class Csr(val off: Array[Int], val to: Array[Int], val w: Array[Long]) {
    def n: Int = off.length - 1
  }

  /** The [[Csr]] of the edges `src(i) → dst(i)` over `n` nodes, each
    * (src, dst) pair once: duplicate edges fold their weights `w(i)` with
    * `combine` (when `w` is given). Two stable counting sorts order the
    * edges by (src, dst) in O(edges + n).
    */
  def csr(n: Int, src: Array[Int], dst: Array[Int], w: Array[Long] = null,
          combine: (Long, Long) => Long = null): Csr = {
    def sortBy(key: Array[Int], order: Array[Int]): Array[Int] = {
      val pos = new Array[Int](n + 1)
      order.foreach(i => pos(key(i) + 1) += 1)
      (0 until n).foreach(v => pos(v + 1) += pos(v))
      val out = new Array[Int](order.length)
      order.foreach { i => out(pos(key(i))) = i; pos(key(i)) += 1 }
      out
    }
    val order = sortBy(src, sortBy(dst, Array.range(0, src.length)))
    val off = new Array[Int](n + 1)
    val to = new Array[Int](order.length)
    val ws = if (w == null) null else new Array[Long](order.length)
    var m = 0
    var prev = -1
    order.foreach { i =>
      if (prev >= 0 && src(prev) == src(i) && dst(prev) == dst(i)) {
        if (ws != null) ws(m - 1) = combine(ws(m - 1), w(i))
      } else {
        to(m) = dst(i)
        if (ws != null) ws(m) = w(i)
        off(src(i) + 1) += 1
        m += 1
      }
      prev = i
    }
    (0 until n).foreach(v => off(v + 1) += off(v))
    new Csr(off, java.util.Arrays.copyOf(to, m),
      if (ws == null) null else java.util.Arrays.copyOf(ws, m))
  }

  /** The gate. Caches `e`, then one job returns its row count, the
    * code points of its string columns and its rows with a null endpoint.
    * Rows are estimated at 64 bytes plus 16 per non-string column and
    * 48 + 2·chars per string column (chars averaged over the rows). When
    * count <= `maxEdges` (and the JVM array limit) and the estimate fits
    * `maxBytes`, the rows are collected and the cache released.
    */
  def edges(op: String, e: DataFrame, maxEdges: Long, sorted: Boolean = false,
            maxBytes: Long = MaxBytes): Edges = {
    val (leaf, rdd) = rebase(e)
    val strings = e.schema.fields.indices
      .filter(i => e.schema.fields(i).dataType == StringType).toArray
    val (n, chars, nulls) = rdd.aggregate((0L, 0L, 0L))({ case ((n, c, z), r) =>
      var w = 0L
      strings.foreach { i =>
        if (!r.isNullAt(i)) { val s = r.getString(i); w += s.codePointCount(0, s.length) }
      }
      (n + 1, c + w, if (r.isNullAt(0) || r.isNullAt(1)) z + 1 else z)
    }, { case ((n1, c1, z1), (n2, c2, z2)) => (n1 + n2, c1 + c2, z1 + z2) })
    val avgChars = if (n == 0) 0.0 else chars.toDouble / n
    val perRow = 64L + strings.length * 48L + (e.schema.length - strings.length) * 16L +
      (2 * avgChars).toLong
    val bytes = n * perRow
    if (!decide(op, s"rows=$n bytes=$bytes",
        n <= math.min(maxEdges, Int.MaxValue - 8L) && bytes <= maxBytes))
      return new Edges(n, bytes, nulls, leaf, rdd, None, sorted)
    val rows = rdd.collect()
    rdd.unpersist(blocking = false)
    new Edges(n, bytes, nulls, leaf, rdd, Some(rows), sorted)
  }

  /** Spark's ascending order for collected values of type `t`, nulls
    * first: numeric for numbers, unsigned UTF-8 bytes for strings, days
    * and microseconds for dates and timestamps — what an ORDER BY or a
    * `min(struct(...))` over the column compares.
    */
  def ordering(t: DataType): Ordering[Any] = {
    val internal = CatalystTypeConverters.createToCatalystConverter(t)
    val ord = TypeUtils.getInterpretedOrdering(t)
    (a: Any, b: Any) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else ord.compare(internal(a), internal(b))
  }
}
