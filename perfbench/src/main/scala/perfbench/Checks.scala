package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Independent re-computations the benchmark checks outputs against. None of
  * them calls the engine. */
object Checks {

  /** max_v |step(r)_v − r_v| for one superstep of r ← p·r + (1−p)·Σ_{u∼v} r_u/deg(u)
    * over the symmetrized edge set: the fixed-point residual of `ranks`. */
  def pagerankResidual(edges: DataFrame, ranks: DataFrame, resetProb: Double): Double = {
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
    val deg = sym.groupBy(col("src").as("vid")).agg(count(lit(1)).as("deg"))
    val contrib = ranks.join(deg, "vid")
      .select(col("vid").as("src"), (col("pr") / col("deg")).as("c"))
    val msum = sym.join(contrib, "src").groupBy(col("dst").as("vid")).agg(sum(col("c")).as("m"))
    ranks.join(msum, Seq("vid"), "left")
      .select(abs(lit(resetProb) * col("pr") + lit(1 - resetProb) * coalesce(col("m"), lit(0.0))
        - col("pr")).as("d"))
      .agg(max(col("d"))).head().getDouble(0)
  }

  final case class RelDiff(maxPerVertex: Double, l1: Double)

  /** Relative difference of column `c` between two (vid, c) tables: the
    * largest per vertex, and ‖a − b‖₁ ÷ ‖a‖₁. Both infinite when their vertex
    * sets differ. */
  def relDiff(a: DataFrame, b: DataFrame, c: String): RelDiff = {
    val j = a.select(col("vid"), col(c).as("x")).join(b.select(col("vid"), col(c).as("y")), Seq("vid"), "full_outer")
    val r = j.agg(
      max(abs(col("x") - col("y")) / greatest(abs(col("x")), abs(col("y")), lit(1e-300))),
      sum(abs(col("x") - col("y"))), sum(abs(col("x"))),
      count(when(col("x").isNull || col("y").isNull, 1))).head()
    if (r.getLong(3) > 0) RelDiff(Double.PositiveInfinity, Double.PositiveInfinity)
    else RelDiff(r.getDouble(0), r.getDouble(1) / r.getDouble(2))
  }

  /** Component of each vertex 1..n (index v−1) as its minimum vertex id. */
  def unionFind(n: Long, edges: Array[(Long, Long)]): Array[Long] = {
    val parent = Array.tabulate(n.toInt)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    edges.foreach { case (s, d) =>
      val a = find((s - 1).toInt)
      val b = find((d - 1).toInt)
      if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
    }
    Array.tabulate(n.toInt)(v => find(v).toLong + 1)
  }

  /** Synchronous label propagation over the symmetrized edges: every vertex
    * takes its neighbours' most frequent label, ties to the lowest; vertices
    * without neighbours keep their own. Labels start as vertex ids. */
  def labelPropagation(n: Long, edges: Array[(Long, Long)], iterations: Int): Array[Long] = {
    val nv = n.toInt
    val deg = new Array[Int](nv + 1)
    edges.foreach { case (s, d) => deg(s.toInt) += 1; deg(d.toInt) += 1 }
    val off = new Array[Int](nv + 2)
    for (v <- 1 to nv) off(v + 1) = off(v) + deg(v)
    val fill = off.clone()
    val adj = new Array[Int](off(nv + 1))
    edges.foreach { case (s, d) =>
      adj(fill(s.toInt)) = d.toInt; fill(s.toInt) += 1
      adj(fill(d.toInt)) = s.toInt; fill(d.toInt) += 1
    }
    var lab = Array.tabulate(nv + 1)(_.toLong)
    val counts = scala.collection.mutable.HashMap[Long, Int]()
    for (_ <- 1 to iterations) {
      val next = lab.clone()
      for (v <- 1 to nv if off(v + 1) > off(v)) {
        counts.clear()
        var i = off(v)
        while (i < off(v + 1)) { val l = lab(adj(i)); counts(l) = counts.getOrElse(l, 0) + 1; i += 1 }
        var best = Long.MaxValue
        var bestCnt = -1
        counts.foreach { case (l, cnt) =>
          if (cnt > bestCnt || (cnt == bestCnt && l < best)) { best = l; bestCnt = cnt }
        }
        next(v) = best
      }
      lab = next
    }
    lab.drop(1)
  }
}
