package graft.graph

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's vertex-cut partition strategies (spark-graphx 4.1.2
  * `PartitionStrategy.{EdgePartition1D,EdgePartition2D,RandomVertexCut,
  * CanonicalRandomVertexCut}`; SURVEY.md §2.5) as partition-id expressions
  * usable with `repartition(n, expr)` — plus the degree-aware extensions
  * the north rule demands (hub salting lives in the aggregation path, see
  * algos.PageRank).
  */
object Partitioners {

  /** hash(src): colocates each vertex's out-edges (hub-skew-prone). */
  def edgePartition1D(n: Int): Column = pmod(hash(col("src")), lit(n))

  /** sqrt(n) x sqrt(n) grid over (src, dst): bounds vertex replication to
    * 2*sqrt(n) (GraphX paper, OSDI'14 §4). */
  def edgePartition2D(n: Int): Column = {
    val ceilSqrt = math.ceil(math.sqrt(n.toDouble)).toInt
    val row = pmod(hash(col("src")), lit(ceilSqrt))
    val colIdx = pmod(hash(col("dst")), lit(ceilSqrt))
    pmod(row * lit(ceilSqrt) + colIdx, lit(n))
  }

  /** hash(src, dst): splits a hub's edges across partitions. */
  def randomVertexCut(n: Int): Column = pmod(hash(col("src"), col("dst")), lit(n))

  /** hash of the canonical pair: both directions of an undirected edge land
    * together. */
  def canonicalRandomVertexCut(n: Int): Column =
    pmod(hash(least(col("src"), col("dst")), greatest(col("src"), col("dst"))), lit(n))
}
