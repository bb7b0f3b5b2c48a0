package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Min-label connected components of a graph small enough for one
  * task: the finish-small-components-locally step of Kiveris et al.,
  * *Connected Components in MapReduce and Beyond* (SoCC 2014). A
  * distributed fixpoint loop (dd08's label fold,
  * [[GraphQueries.starContraction]]'s large-star/small-star) pays at
  * least one Spark job and a driver barrier per round; at width 1 those
  * rounds are one-task jobs, so the loop costs scheduling, not data.
  * Callers pick this path only from a width they already derive
  * (dd08's input-sized width, the contraction's edge-count rule), both
  * bounded so that a large input always takes the loop. */
object Components {
  /** Union-find over `(u, v)` edges, in any direction, duplicates and
    * self-loops allowed: one `(node, min node of its component)` row per
    * node of any edge, in first-seen order. Union links the larger root
    * under the smaller, so every root is its component's minimum. */
  def unionFind(edges: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val index = new scala.collection.mutable.LongMap[Int]()
    val nodes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val parent = scala.collection.mutable.ArrayBuffer.empty[Int]
    def id(x: Long): Int = index.getOrElseUpdate(x, {
      nodes += x; parent += nodes.size - 1; nodes.size - 1
    })
    def find(i: Int): Int = {
      var root = i
      while (parent(root) != root) root = parent(root)
      var j = i // path compression
      while (parent(j) != root) { val next = parent(j); parent(j) = root; j = next }
      root
    }
    edges.foreach { case (u, v) =>
      val (a, b) = (find(id(u)), find(id(v)))
      if (nodes(a) < nodes(b)) parent(b) = a else if (a != b) parent(a) = b
    }
    nodes.indices.iterator.map(i => (nodes(i), nodes(find(i))))
  }

  /** `(node, comp)` labels of an edge frame with long columns `u` and
    * `v`, from [[unionFind]] in one task: `repartition(1)` gathers the
    * edges and `mapPartitions` runs the kernel, so building the frame
    * launches no job. */
  def inOneTask(edges: DataFrame): DataFrame = {
    import edges.sparkSession.implicits._
    edges.select(col("u"), col("v")).as[(Long, Long)].repartition(1)
      .mapPartitions(unionFind).toDF("node", "comp")
  }
}
