package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

/** The driver-CSR kernel behind [[PageRank]], [[Hits]],
  * [[LabelPropagation]] and [[Bfs]]: the one place that decides whether a
  * graph runs on the driver and, when it does, how its nodes are
  * dictionary-encoded.
  *
  * [[build]] counts the caller's node inventory and applies the one gate,
  * n <= `broadcastMaxNodes` (and below the JVM array limit). A graph that
  * passes is collected into a dense dictionary (node `nodeVals(i)` ↔ int
  * id i), the (node, id) frames are built once, and the caller's adjacency
  * plan over them is cached as an int-keyed CSR RDD. The operators then
  * keep node-sized state arrays on the driver and run one map-only job per
  * round over the cached adjacency: no per-round shuffle, nothing
  * data-sized on the driver. A graph above the gate keeps its inventory
  * cached for the operator's distributed loop, which is both the path for
  * large graphs and the reference the specs pin the driver path against.
  *
  * Driver memory contract. The honest driver cost is NOT the 8–16
  * bytes/node of the state arrays: the dictionary lives as boxed rows
  * while the id mapping materializes (≈100–200 bytes/node for string
  * keys), every round's broadcast ships 8 bytes/node per state vector, and
  * a scatter or out-degree treeAggregate allocates one 8·n-byte scratch
  * per partition. The [[MaxNodes]] default is comfortable in a few-GB
  * driver; raise an entry's `broadcastMaxNodes` only with driver and
  * executor memory to match. `broadcastMaxNodes = 0` forces the
  * distributed loop.
  */
private[operators] object DriverCsr {

  /** The default `broadcastMaxNodes` of every driver-CSR entry point. */
  val MaxNodes = 2000000L

  /** A graph after the gate: its node count and, on the driver path, the
    * dictionary and the cached adjacency. [[close]] releases both caches.
    */
  final class Graph[A] private[DriverCsr] (
      val n: Long, val nodeType: DataType, inventory: DataFrame,
      csr: Option[(Array[Any], RDD[A])]) {

    def onDriver: Boolean = csr.isDefined
    def nodeVals: Array[Any] = csr.get._1
    def adj: RDD[A] = csr.get._2

    /** The node inventory; cached until [[close]] off the driver path. */
    def nodes: DataFrame = inventory

    /** A local frame of per-node results: `node` followed by `fields`. */
    def frame(rows: Iterator[Row], fields: StructField*): DataFrame = {
      import scala.jdk.CollectionConverters._
      inventory.sparkSession.createDataFrame(rows.toSeq.asJava,
        StructType(StructField("node", nodeType, nullable = true) +: fields))
    }

    def close(): Unit = {
      csr.foreach(_._2.unpersist(blocking = false))
      inventory.unpersist(blocking = false)
    }
  }

  /** One distinct node column over two endpoint columns of `e`. */
  def nodesOf(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col(a).as("node")).union(e.select(col(b).as("node"))).distinct()

  /** Count `nodes` (one column) and gate it. When 0 < n <= the bound,
    * collect the dictionary (under Spark's ordering of the node type when
    * `sorted`) and cache `adjacency(srcIds, dstIds)`, where `srcIds` is
    * (node, id) and `dstIds` the same rows as (node2, id2). The adjacency
    * materializes on the caller's first action over it.
    */
  def build[A](nodes: DataFrame, broadcastMaxNodes: Long, sorted: Boolean = false)
              (adjacency: (DataFrame, DataFrame) => RDD[A]): Graph[A] = {
    import scala.jdk.CollectionConverters._
    val inv = nodes.persist()
    val n = inv.count()
    val nodeType = inv.schema.fields(0).dataType
    if (n == 0 || n > math.min(broadcastMaxNodes, Int.MaxValue - 8L))
      return new Graph(n, nodeType, inv, None)
    val collected = inv.collect().map(_.get(0))
    inv.unpersist(blocking = false)
    val nodeVals = if (sorted) collected.sorted(ordering(nodeType)) else collected
    val idRows: java.util.List[Row] =
      nodeVals.zipWithIndex.map { case (v, i) => Row(v, i) }.toSeq.asJava
    val srcIds = inv.sparkSession.createDataFrame(idRows, StructType(Seq(
      StructField("node", nodeType, nullable = true),
      StructField("id", IntegerType, nullable = false))))
    val adj = adjacency(srcIds,
      srcIds.select(col("node").as("node2"), col("id").as("id2")))
    adj.cache()
    new Graph(n, nodeType, inv, Some((nodeVals, adj)))
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
