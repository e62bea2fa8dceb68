package graft

import org.apache.spark.sql.SparkSession

/** The engine's `spark.graft.*` session knobs: each key's name, default and
  * range, declared once. Every key is an integer; reads go through
  * [[Key.get]], which fails naming the key on a malformed or out-of-range
  * value instead of surfacing as a bare NumberFormatException mid-query or
  * silently changing the route. [[Engine.applyConfOverrides]] validates
  * `SPARK_GRAFT_CONF` pairs here, so a misspelled key fails too.
  */
object GraftConf {

  final case class Key(name: String, default: Long, min: Long,
                       max: Long = Long.MaxValue) {
    /** The session's value, or `default` when unset. */
    def get(spark: SparkSession): Long =
      spark.conf.getOption(name).fold(default)(parse)

    def parse(raw: String): Long = {
      val v = raw.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"$name must be an integer, got '$raw'"))
      if (v < min || v > max) throw new IllegalArgumentException(
        s"$name must be in [$min, $max], got $raw")
      v
    }
  }

  /** Row cap of the driver-local union-find finish of connected
    * components; 0 forces the distributed pointer-jumping loop.
    */
  val ccLocalMaxRows = Key("spark.graft.cc.localMaxRows", 1000000L, 0L)

  /** Row cap of sql8's driver-local chain walk; 0 forces the recursive
    * CTE.
    */
  val sql8LocalMaxRows = Key("spark.graft.sql8.localMaxRows", 1000000L, 0L)

  /** Broadcast cap (bytes) for the near-dup verify stages' per-doc
    * code-set frames (8 B/code): shipping the candidate stream with arrays
    * attached costs ~50× the sets frame, so the break-even sits far past
    * the session's dim-table threshold. Lowered for memory-constrained
    * drivers; 0 forces the past-cap shuffled-hash branches.
    */
  val attachBroadcastCap =
    Key("spark.graft.dedup.attachBroadcastCap", 512L << 20, 0L)

  /** Largest shingle universe the dense bitset kernel takes (16 384
    * codes: ≤ 2 KB/doc bitsets); 0 disables it. The route decision
    * collects up to this many codes + 1 to the driver (8 B each) and
    * broadcasts them as a `HashMap[Long, Integer]` of about 72 B per entry
    * (a 32 B node, two 16 B boxes and an 8 B share of its table), so the
    * bound of 2^18 codes keeps the two near 2^18 · 80 B = 21 MB.
    */
  val denseUniverseMax =
    Key("spark.graft.dedup.denseUniverseMax", 16384L, 0L, 1L << 18)

  /** Corpus size from which the verify stage spreads its candidate pairs;
    * 0 forces the spread on, `Long.MaxValue` forces it off.
    */
  val pairSpreadMinDocs = Key("spark.graft.dedup.pairSpreadMinDocs", 16000L, 0L)

  /** Smallest k at which k-means spreads its input before the Lloyd
    * rounds.
    */
  val kmeansSpreadMinK = Key("spark.graft.kmeans.spreadMinK", 32L, 0L)

  /** Shuffle partitions of the bounded streaming gates' stateful
    * operators.
    */
  val streamStateParts =
    Key("spark.graft.stream.stateParts", 8L, 1L, Int.MaxValue.toLong)

  val keys: Seq[Key] = Seq(ccLocalMaxRows, sql8LocalMaxRows,
    attachBroadcastCap, denseUniverseMax, pairSpreadMinDocs,
    kmeansSpreadMinK, streamStateParts)

  /** Fail naming `name` if it is a `spark.graft.*` key that is not
    * declared here or `raw` does not parse in its range. Other keys pass.
    */
  def validate(name: String, raw: String): Unit =
    if (name.startsWith("spark.graft."))
      keys.find(_.name == name).getOrElse(throw new IllegalArgumentException(
        s"unknown conf key $name; declared: ${keys.map(_.name).mkString(", ")}"))
        .parse(raw)
}
