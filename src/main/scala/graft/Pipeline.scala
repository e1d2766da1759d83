package graft

import java.security.MessageDigest
import java.util.concurrent.CancellationException
import java.util.concurrent.atomic.AtomicReference

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Curation

/** Orchestrated end-to-end pipeline run with standardized artifacts —
  * the Spark-native equivalent of the reference's Prefect flow
  * (orchestration/prefect_flow.py:50-97: 17 → 18 → 22 → 23 → reward
  * report, each stage a subprocess writing a jsonl/csv artifact under a
  * run id, each handing its artifact to the next) plus its manifest
  * machinery (utils/manifest.py: per-stage signatures,
  * skip-if-unchanged; utils/contracts.py: a contract JSON next to each
  * artifact).
  *
  * Here every stage is already a pure Catalyst plan builder in
  * `SparkEntry.queries`, so orchestration reduces to: resolve each named
  * stage, write its result as parquet under `outDir/<runId>/<stage>`,
  * and record a manifest row (stage, rows, path, start offset, wall
  * millis, signature). No subprocesses, no intermediate jsonl — lineage
  * stays inside one Spark session, and a failed stage fails the run
  * loudly rather than leaving a half-written artifact chain.
  *
  * The requested stages run as a DAG. A stage that composes upstream
  * stages (today cur_verdict, over dd_decisions, tx_gopher and
  * tx_contamination) starts once those of its upstreams that are in the
  * same stage list have written their artifacts, and reads them when all
  * of them are listed; every other stage starts at once. Concurrent
  * stages share the cores through Spark's scheduler: most of a chain's
  * jobs are one or two tasks, so one stage alone leaves executors idle.
  *
  * Concurrency audit. Concurrent stage builders meet only in the
  * operators' `ConcurrentHashMap` session caches (Dedup's frameCache,
  * pairFrameCache and verifiedPieceCache; Similarity's knnEdgeCache,
  * centTableCache and lloydsVmCache). `computeIfAbsent` locks the key's
  * hash bin while it builds, so concurrent builds of one key wait for the
  * first (one build per key, as wanted), and builds of different keys
  * that share a bin serialize. A build that nests into another map can
  * deadlock only through a cycle of maps; the one nesting is
  * centTableCache → lloydsVmCache (the Lloyd's trainers read the
  * checkpointed vector table), which has none, and no build nests into
  * its own map (dependencies are resolved before the closure — Dedup's
  * "Recursive update" note). Per-query scratch registration
  * (`Sampling.trackScratch`) and the checkpoint row-count memo are
  * concurrent collections; no operator registers views or functions in
  * the session. The operator objects initialize on the calling thread
  * (`run` resolves `SparkEntry.queries` before any stage thread starts),
  * so no two stage threads race through one object's initializer.
  *
  * Scale notes (100 TB):
  *  - artifacts are written with each stage's native output partitioning
  *    (no coalesce(1) — that is Verify's small-file convenience, wrong at
  *    scale);
  *  - row counts come from the written parquet footers, read on the
  *    driver (no Spark job, no second evaluation of the stage plan);
  *  - incremental signatures hash the input's FileSystem *metadata*
  *    (path, length, modification time — one namenode/object-store
  *    listing per run), never file contents: the reference streams every
  *    input byte through sha256 (utils/manifest.py compute_hash), which
  *    is a full extra read of the corpus at 100 TB;
  *  - all existence checks go through Hadoop's FileSystem so they hold
  *    on HDFS/S3/ABFS, not only file://.
  */
object Pipeline {

  /** The reference flow's stage chain (prefect_flow.py:87-96) plus the
    * reward-evaluation report it submits last (evaluate_rewards). */
  val defaultStages: Seq[String] =
    Seq("p17_style", "p18_prompts", "p22_dataset", "p23_split", "rw_report")

  /** The pretraining-corpus curation chain: rule gate, dedup decisions,
    * contamination, the composed per-doc verdict, mixture resample,
    * sequence packing. Every stage but cur_verdict is a full-corpus
    * query (an oracle-gated `SparkEntry.queries` entry) writing its own
    * artifact, and all of them run concurrently; cur_verdict waits for
    * the dd_decisions, tx_gopher and tx_contamination artifacts and
    * joins them. The cur_verdict artifact is the drop-list — a consumer
    * filters tx_mix/tx_pack output on `train_keep = 1` (they are not
    * pre-filtered). */
  val curationStages: Seq[String] =
    Seq("tx_gopher", "dd_decisions", "tx_contamination", "cur_verdict",
      "tx_mix", "tx_pack")

  /** The stage-21 cluster-analysis chain: Lloyd's cluster sizes, per-
    * vector assignment, per-cluster label profile, simplified-silhouette
    * separability, PCA projection. Same artifact contract as
    * [[curationStages]]; no stage declares an upstream, so all five run
    * concurrently. The three Lloyd's-derived stages share one trained
    * centroid table through the session cache (the first to ask trains
    * it, the others wait for it), where a 100 TB run persists the
    * centroid artifact once and joins it (the analysis passes are
    * map-only against a broadcast of that artifact). */
  val clusteringStages: Seq[String] =
    Seq("p21_lloyds", "p21_cluster_assign", "p21_cluster_profile",
      "p21_separability", "p21_pca")

  /** One manifest row. `started_ms` is the stage's start as an offset
    * from the start of the run, `millis` its own wall time: concurrent
    * stages overlap, and a composed stage starts no earlier than its
    * upstreams end. */
  final case class StageArtifact(
      run_id: String,
      stage: String,
      path: String,
      rows: Long,
      started_ms: Long,
      millis: Long,
      signature: String,
      skipped: Boolean)

  /** The stages that compose upstream artifacts: stage → (its upstream
    * stages, its composition over their artifact frames in that order).
    * A def, built per run: the operator objects initialize inside
    * [[run]], never while `Pipeline` itself initializes. */
  private def composed(spark: SparkSession, sfDir: String)
      : Map[String, (Seq[String], Seq[DataFrame] => DataFrame)] = Map(
    "cur_verdict" -> (Seq("dd_decisions", "tx_gopher", "tx_contamination"),
      in => Curation.curVerdictOf(spark, sfDir, in(0), in(1), in(2))))

  /** Every LEAF file's status (qualified path, length, mtime) under
    * `sfDir`, sorted, via one RECURSIVE metadata listing
    * (`fs.listFiles(p, true)`) — no data read. Recursion matters for
    * nested table directories (the production layout): a part-file
    * rewritten in place inside a subdirectory need not change the
    * parent's entry — HDFS directory mtime only moves on entry
    * add/remove, and object-store pseudo-dirs report zero — so a
    * top-level listing would let incremental mode silently skip a stage
    * against stale inputs. */
  private def inputListing(spark: SparkSession, sfDir: String): Seq[String] = {
    val p = new Path(sfDir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      entries += s"|${st.getPath.toUri.getPath}:${st.getLen}:${st.getModificationTime}"
    }
    entries.sorted.toSeq
  }

  /** A stage's signature: sha256 over the stage name, the session values
    * of the result-affecting knobs that can change it
    * ([[SessionTuning.resultKnobsOf]]), its upstream stages' signatures
    * (a composed stage is stale when any input artifact is) and the
    * input listing. Shape-only knobs are not hashed: they change plans,
    * never results. */
  private def signature(spark: SparkSession, stage: String, listing: Seq[String],
      upstreamSignatures: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(stage.getBytes("UTF-8"))
    SessionTuning.resultKnobsOf(stage).foreach { k =>
      md.update(s"|$k${spark.conf.getOption(k).fold("")("=" + _)}".getBytes("UTF-8"))
    }
    upstreamSignatures.foreach(s => md.update(s"|$s".getBytes("UTF-8")))
    listing.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Row count of a parquet artifact from its part files' footers, read
    * on the driver — no Spark job. Hidden files (`_SUCCESS`, `.crc`,
    * the contract) are skipped, as Spark's own file index skips them. */
  private[graft] def footerRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(path)
    dir.getFileSystem(conf).listStatus(dir).iterator
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getRecordCount finally reader.close()
      }.sum
  }

  /** Run `stages` against `sfDir` as a DAG (see the object scaladoc),
    * writing one parquet artifact per stage under `outDir/<runId>/`, and
    * return the manifest in the requested stage order (also persisted as
    * `outDir/<runId>/_manifest`, single JSON file; each artifact carries
    * a `_contract.json` with schema + row count).
    *
    * Each stage runs on its own daemon thread in its own Spark job group.
    * When a stage fails, the run cancels every stage's job group,
    * including jobs the other stages have not submitted yet, waits for
    * the stage threads to end, writes no manifest and throws an
    * exception naming the failed stage, with the stage's own exception
    * as its cause.
    *
    * With `incremental = true`, a stage whose signature matches the
    * previous run's manifest AND whose artifact still exists is skipped
    * (reference: utils/manifest.py should_skip). */
  def run(
      spark: SparkSession,
      sfDir: String,
      outDir: String,
      runId: String,
      stages: Seq[String] = defaultStages,
      incremental: Boolean = false): DataFrame = {
    import spark.implicits._
    val unknown = stages.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown pipeline stages: ${unknown.mkString(", ")}")
    val repeated = stages.diff(stages.distinct)
    require(repeated.isEmpty, s"repeated pipeline stages: ${repeated.mkString(", ")}")

    val conf = spark.sessionState.newHadoopConf()
    def fsFor(p: Path) = p.getFileSystem(conf)
    val manifestPath = new Path(s"$outDir/$runId/_manifest")

    // Previous run's per-stage signatures (incremental mode only).
    val prevSignatures: Map[String, String] =
      if (incremental && fsFor(manifestPath).exists(manifestPath))
        spark.read.json(manifestPath.toString)
          .select("stage", "signature").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      else Map.empty

    val compositions = composed(spark, sfDir)
    def upstreams(stage: String): Seq[String] =
      compositions.get(stage).fold(Seq.empty[String])(_._1)
    val listing = inputListing(spark, sfDir)
    def signatureOf(stage: String): String =
      signature(spark, stage, listing, upstreams(stage).map(signatureOf))
    val signatures = stages.map(s => s -> signatureOf(s)).toMap

    val sc = spark.sparkContext
    val runStart = System.nanoTime()
    val groupPrefix = s"graft-pipeline-${java.util.UUID.randomUUID()}"
    val done = stages.map(_ -> Promise[StageArtifact]()).toMap
    val failure = new AtomicReference[(String, Throwable)]()

    def artifactPath(stage: String) = s"$outDir/$runId/$stage"
    def runStage(stage: String): StageArtifact = {
      val path = artifactPath(stage)
      val hPath = new Path(path)
      val sig = signatures(stage)
      val t0 = System.nanoTime()
      val skip = prevSignatures.get(stage).contains(sig) && fsFor(hPath).exists(hPath)
      val columns = if (skip) None else {
        val result = compositions.get(stage).filter(_._1.forall(done.contains)) match {
          case Some((ups, compose)) => compose(ups.map(u => spark.read.parquet(artifactPath(u))))
          case None => SparkEntry.queries(stage)(spark, sfDir)
        }
        result.write.mode("overwrite").parquet(path)
        Some(result.schema.fieldNames)
      }
      val rows = footerRowCount(spark, path)
      columns.foreach(writeContract(spark, path, _, rows, sig))
      StageArtifact(runId, stage, path, rows,
        (t0 - runStart) / 1000000L, (System.nanoTime() - t0) / 1000000L, sig, skip)
    }

    val threads = stages.map { stage =>
      val t = new Thread(() => {
        val result: Try[StageArtifact] = try {
          upstreams(stage).filter(done.contains)
            .foreach(u => Await.ready(done(u).future, Duration.Inf))
          if (failure.get != null) throw new CancellationException(
            s"pipeline stage $stage not started: stage ${failure.get._1} failed")
          sc.setJobGroup(s"$groupPrefix-$stage", s"graft.Pipeline $runId: $stage")
          try Success(runStage(stage)) finally sc.clearJobGroup()
        } catch {
          case e: Throwable => Failure(e)
        }
        result.failed.foreach { e =>
          if (failure.compareAndSet(null, stage -> e))
            stages.foreach(s => sc.cancelJobGroupAndFutureJobs(s"$groupPrefix-$s"))
        }
        done(stage).complete(result)
      }, s"graft-pipeline-$stage")
      t.setDaemon(true)
      t
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    Option(failure.get).foreach { case (stage, e) =>
      throw new RuntimeException(s"pipeline stage $stage failed: $e", e)
    }

    val manifest = stages.map(s => done(s).future.value.get.get).toDF()
    manifest.coalesce(1).write.mode("overwrite").json(manifestPath.toString)
    manifest
  }

  /** Contract JSON inside the artifact directory (underscore-prefixed —
    * ignored by parquet readers). Reference: utils/contracts.py
    * write_contract (schema_version, signature, counts). */
  private def writeContract(
      spark: SparkSession,
      artifactPath: String,
      columns: Array[String],
      rows: Long,
      signature: String): Unit = {
    val p = new Path(s"$artifactPath/_contract.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    // Column names are data, not code: escape them (a name with a quote
    // or backslash must not corrupt the contract document).
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }
    val json =
      s"""{"schema_version": "1", "signature": "$signature", "rows": $rows,
         | "columns": [${columns.map(c => "\"" + esc(c) + "\"").mkString(", ")}]}""".stripMargin
    val out = fs.create(p, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Contract check for a consumer: artifact has the required columns and
    * at least `minRows` rows per its contract (reference:
    * utils/validation.py validate_csv). */
  def validateArtifact(
      spark: SparkSession,
      artifactPath: String,
      requiredColumns: Seq[String],
      minRows: Long = 1L): Boolean = {
    import spark.implicits._
    val p = new Path(s"$artifactPath/_contract.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return false
    // Underscore-prefixed files are invisible to Spark's file index (by
    // design — that's why the contract doesn't pollute the parquet scan),
    // so read the bytes through the FileSystem and parse in-memory.
    val in = fs.open(p)
    val text = try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 65536, false)
      buf.toString("UTF-8")
    } finally in.close()
    val row = spark.read.json(Seq(text).toDS()).select("rows", "columns").head()
    val cols = row.getAs[scala.collection.Seq[String]]("columns").toSet
    row.getAs[Long]("rows") >= minRows && requiredColumns.forall(cols.contains)
  }

  /** CLI: Pipeline <sfDir> <outDir> [runId] [stage,stage,...] —
    * SPARK_GRAFT_INCREMENTAL=1 enables skip-if-unchanged. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val runId = args.lift(2).getOrElse(System.currentTimeMillis().toString)
    val stages = args.lift(3)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(defaultStages)
    val incremental = sys.env.get("SPARK_GRAFT_INCREMENTAL").contains("1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val manifest = run(spark, sfDir, outDir, runId, stages, incremental).collect()
    manifest.foreach(r => println(s"[pipeline] $r"))
    spark.stop()
  }
}
