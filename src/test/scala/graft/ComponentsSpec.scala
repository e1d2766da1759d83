package graft

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LocalRelation, ResolvedHint}

import graft.operators.{Dedup, Sampling}

/** Differential guard for dd_components' two shapes: the driver-side
  * union-find (rep-edge set within spark.graft.broadcastMaxRows) and the
  * distributed min-label propagation (forced with the gate at 0) must
  * both equal a plain-Scala BFS reference — on the fixture corpus's rep
  * graph and on constructed graphs that stress the label rule (isolated
  * reps, disjoint cliques, a star whose centre has the LARGEST id, a
  * path deeper than [[Dedup.MaxCcRounds]]). The cores are called
  * directly, so both shapes label one groups frame (through the session
  * cache the gate, a registry knob, would key two separate builds).
  *
  * Also pins the job count of building dd_decisions: the local shape
  * launches a fixed number of jobs, where the distributed loop's grows
  * with its rounds (85 eager jobs for 6 rounds at sf0.1).
  */
class ComponentsSpec extends SparkSpec {

  /** (rep_id → component) by BFS, visiting reps in ascending order so
    * the first rep reached in a component is its minimum. */
  private def bfsLabels(reps: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    val label = mutable.Map.empty[Long, Long]
    for (r <- reps.sorted if !label.contains(r)) {
      label(r) = r
      val queue = mutable.Queue(r)
      while (queue.nonEmpty) {
        for (y <- adj.getOrElse(queue.dequeue(), Nil) if !label.contains(y)) {
          label(y) = r
          queue.enqueue(y)
        }
      }
    }
    label.toMap
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def withGate[T](rows: Long)(body: => T): T = {
    spark.conf.set(Knobs.broadcastMaxRows.key, rows.toString)
    try body finally spark.conf.unset(Knobs.broadcastMaxRows.key)
  }

  /** [[Dedup.labelComponents]] on a constructed graph, under the
    * session's current gate. */
  private def labelGraph(reps: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    labelsOf(Dedup.labelComponents(reps.toDF("rep_id"),
      Sampling.materialize(edges.map { case (a, b) =>
        (math.min(a, b), math.max(a, b)) }.toDF("a", "b"))))
  }

  private def assertBothMatchBfs(reps: Seq[Long], edges: Seq[(Long, Long)]): Unit = {
    val want = bfsLabels(reps, edges)
    assert(labelGraph(reps, edges) == want, "union-find labels differ from BFS")
    assert(withGate(0)(labelGraph(reps, edges)) == want, "propagation labels differ from BFS")
  }

  test("both shapes equal BFS on the fixture corpus's rep graph") {
    val groups = Dedup.fpGroups(spark, sfDir)
    val reps = groups.select("rep_id").collect().map(_.getLong(0)).toSeq
    // ddSimhashClusters: the same band/hamming rule over the same fp
    // groups, built on a separate code path
    val edges = Dedup.ddSimhashClusters(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = bfsLabels(reps, edges)
    assert(want.values.groupBy(identity).exists(_._2.size >= 3),
      "fixture rep graph has no component of three reps — differential is thin")
    val local = labelsOf(Dedup.repComponentsCore(groups))
    val distributed = withGate(0)(labelsOf(Dedup.repComponentsCore(groups)))
    assert(local == want, "union-find labels differ from BFS")
    assert(distributed == want, "propagation labels differ from BFS")
  }

  test("isolated reps label themselves") {
    assertBothMatchBfs(Seq(5L, 9L, 2L), Seq.empty)
  }

  test("two disjoint cliques and an isolated rep") {
    def clique(ids: Seq[Long]) = ids.combinations(2).map(p => (p(0), p(1))).toSeq
    assertBothMatchBfs(Seq(10L, 11L, 12L, 13L, 20L, 21L, 22L, 30L),
      clique(Seq(10L, 11L, 12L, 13L)) ++ clique(Seq(20L, 21L, 22L)))
  }

  test("a star whose centre has the largest id labels every leaf with the min leaf") {
    val leaves = (1L to 8L).toSeq
    assertBothMatchBfs(leaves :+ 100L, leaves.map(l => (l, 100L)))
  }

  test("a path deeper than MaxCcRounds: union-find labels it, propagation fails loudly") {
    // min id at one end, ids DESCENDING from the far end: pointer jumps
    // only ever point away from the min, so the min travels one hop per
    // round and the loop needs one round per node
    val n = 2L * Dedup.MaxCcRounds
    val path = 0L +: (n - 1 to 1L by -1L)
    val edges = path.zip(path.tail)
    val local = labelGraph(path, edges)
    assert(local == bfsLabels(path, edges) && local.values.toSet == Set(0L))
    val e = intercept[IllegalStateException](withGate(0)(labelGraph(path, edges)))
    assert(e.getMessage.contains("did not converge"))
  }

  /** A fresh copy of the fixture corpus: no session cache has seen it. */
  private def withFreshCorpus[T](body: String => T): T = {
    val dir = Files.createTempDirectory("components-spec")
    val files = Files.list(Paths.get(sfDir))
    try files.forEach(p => Files.copy(p, dir.resolve(p.getFileName)))
    finally files.close()
    try body(dir.toString)
    finally {
      val walk = Files.walk(dir)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }

  test("building dd_decisions launches a fixed job count and hints no label broadcast") {
    val (analyzed, localJobs) = withFreshCorpus(dir =>
      jobsDuring(Dedup.ddDecisions(spark, dir).queryExecution.analyzed))
    val (_, loopJobs) = withFreshCorpus(dir =>
      withGate(0)(jobsDuring(Dedup.ddDecisions(spark, dir))))
    // fp, fp-group and edge materializations (one job each, plus AQE
    // running each shuffle below them as its own job) + one edge
    // collect — no per-round jobs
    assert(localJobs <= 8, s"local component build launched $localJobs jobs")
    assert(loopJobs > localJobs,
      s"distributed build ($loopJobs jobs) is not above the local one ($localJobs)")
    assert(analyzed.collectFirst { case l: LocalRelation => l }.nonEmpty,
      "dd_decisions did not take the local union-find shape")
    val hinted = analyzed.collect {
      case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) &&
        h.child.collectFirst { case l: LocalRelation => l }.nonEmpty => h
    }
    assert(hinted.isEmpty, s"label frame is broadcast-hinted:\n${hinted.mkString("\n")}")
  }
}
