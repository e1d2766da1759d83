package graft

import org.apache.spark.sql.SparkSession

/** How a knob's session string is read: `read` gives the typed value, or
  * None for any string outside `accepted` (the forms an error names). */
final case class KnobParser[T](accepted: String, read: String => Option[T])

/** One session knob: its `spark.conf` key, the value an unset key means,
  * the parser of a set value, its deployment meaning (README.md's
  * "Session knobs" documents the same), and the `graft.Pipeline` stages
  * whose results its value can change — `graft.Pipeline` hashes the value
  * into exactly those stages' signatures; a knob that changes only plan
  * shape names no stage. */
final case class Knob[T](key: String, default: T, parse: KnobParser[T], doc: String,
    stages: String => Boolean) {

  /** The session's value: [[default]] when the key is unset. A value
    * outside the parser's accepted forms throws
    * `IllegalArgumentException` naming the key, the value and the
    * accepted forms. */
  def apply(spark: SparkSession): T =
    spark.conf.getOption(key).fold(default) { v =>
      parse.read(v).getOrElse(throw new IllegalArgumentException(
        s"session knob $key has malformed value \"$v\"; accepted: ${parse.accepted}"))
    }
}

/** The engine's session-knob registry: every `spark.conf` key the
  * library reads, typed, with its default and meaning. Operators read a
  * knob as `Knobs.X(spark)`; nothing else parses a knob string.
  *
  * This object references no operator object, so naming it (the session
  * cache key, `graft.Pipeline`'s signatures, the mains' conf check)
  * initializes none of them ahead of a session start. */
object Knobs {

  private val boolean = KnobParser[Boolean]("true, false, on or off (any case)",
    _.trim.toLowerCase(java.util.Locale.ROOT) match {
      case "true" | "on" => Some(true)
      case "false" | "off" => Some(false)
      case _ => None
    })

  private val nonNegativeLong = KnobParser[Long]("an integer >= 0",
    _.trim.toLongOption.filter(_ >= 0))

  private val positiveLongOption = KnobParser[Option[Long]]("an integer >= 1",
    _.trim.toLongOption.filter(_ >= 1).map(Some(_)))

  private val noStage: String => Boolean = _ => false
  private val everyStage: String => Boolean = _ => true

  val presentation = Knob("graft.presentation", true, boolean,
    "false/off skips every operator output's presentation checkpoint + " +
      "ORDER BY — required on a cluster run feeding a partitioned sink; " +
      "the global sort exists only for the oracle gate", noStage)

  val approxQuantiles = Knob("spark.graft.approxQuantiles", false, boolean,
    "true/on switches every percentile call site to approx_percentile with " +
      "bounded sketch state, the 100 TB form (QUANTAB records the " +
      "speed/accuracy band)", everyStage)

  val maxCentroids = Knob[Option[Long]]("graft.similarity.maxCentroids", None,
    positiveLongOption,
    "caps the IVF/Lloyd's seed set at its first K centroids (production " +
      "nlist ≈ √N); unset keeps the fixture seed rule the oracle gate " +
      "verifies", everyStage)

  /** Read by cur_verdict's composition only (KnobRegistrySpec pins the
    * one reader), so it counts for that stage's signature alone. */
  val classifier = Knob("graft.curation.classifier", false, boolean,
    "true/on adds the learned quality classifier as a fifth cur_verdict " +
      "conjunct (the CCNet-style second stage)", Set("cur_verdict"))

  // Default: Spark's own InjectRuntimeFilter threshold (10 GB); below it
  // the pruned rescans cost more in driver sync points (+1.4 s fixed at
  // ≤100k docs) than the shingle passes they save.
  val bloomMinScanBytes = Knob("spark.graft.bloomPrune.minScanBytes", 10L << 30,
    nonNegativeLong,
    "documents-scan size from which the minhash verify rescan and, on a " +
      "low-density corpus, dd_incremental's slim increment build their " +
      "Bloom prunes", noStage)

  // Default: 4M rows ≈ 64 MB at ~16 B/row, inside every BroadcastExchange
  // ceiling and far above any oracle scale factor.
  val broadcastMaxRows = Knob("spark.graft.broadcastMaxRows", 4L << 20,
    nonNegativeLong,
    "largest measured row count at which a corpus-cardinality frame is " +
      "broadcast-hinted and the simhash rep-edge set is labeled on the " +
      "driver; above it, shuffle joins and distributed label propagation " +
      "(BroadcastExchange aborts past 8 GB / 512M rows)", noStage)

  // Default ≈ one 128 MB sort task of pairs. The crossover is output-
  // sized: at the 100× corpus the pre-ranged form took dd_simhash
  // 134.6 → 32.3 s (984M pairs) but lost on dd_winnow's 15k pairs
  // (4.9 → 11.3 s).
  val preRangeMinPairs = Knob("spark.graft.preRangeMinPairs", 4L << 20,
    nonNegativeLong,
    "closed-form pair count from which a quadratic pair output's " +
      "presentation sort ranges the pre-expansion stream instead of the " +
      "output (ranging the output generates it twice)", noStage)

  val all: Seq[Knob[_]] = Seq(presentation, approxQuantiles, maxCentroids,
    classifier, bloomMinScanBytes, broadcastMaxRows, preRangeMinPairs)

  /** Every knob with the session's parsed value, in [[all]]'s order —
    * the session cache's key and the stage signatures' knob input, so a
    * knob left unset and one set to its default (or `OFF` and `off`)
    * are one value. Throws `IllegalArgumentException` on a malformed
    * value and on any `graft.*` / `spark.graft.*` key set on the
    * session that is not a registry key (a mistyped knob would
    * otherwise be ignored). */
  def values(spark: SparkSession): Seq[(Knob[_], Any)] = {
    val keys = all.map(_.key)
    val unknown = spark.conf.getAll.keys
      .filter(k => (k.startsWith("graft.") || k.startsWith("spark.graft.")) && !keys.contains(k))
    require(unknown.isEmpty, s"unknown session knob ${unknown.toSeq.sorted.mkString(", ")}; " +
      s"the registry's keys are ${keys.mkString(", ")}")
    all.map(k => k -> k(spark))
  }
}
