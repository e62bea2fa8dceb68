package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared gate: its Spark build over a fixture directory and the
  * DuckDB SQL its output must hash-match.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
                      oracle: String)

/** Driver contract — see SURVEY.md §7.
  *
  * Each family object declares its gates once, build beside oracle:
  *   - M1–M14 matrix core                [[graft.operators.MatrixQueries]]
  *   - R1–R40 relational                 [[graft.operators.RelationalQueries]]
  *   - J/S events + streaming            [[graft.operators.EventQueries]]
  *   - L* near-dup + match graph         [[graft.operators.DedupQueries]]
  *   - L* vectors + mm* multimodal       [[graft.operators.VectorQueries]]
  *   - L* text analytics                 [[graft.operators.TextQueries]]
  *   - L* curation                       [[graft.operators.CurationQueries]]
  *   - sql* SQL entry point              [[graft.operators.SqlQueries]]
  *   - io* source/sink + layout          [[graft.operators.IoQueries]]
  *
  * `queries` and `oracleSql` are views of that one list, so a gate cannot
  * have a build without an oracle or the reverse.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Multi-join revenue-per-nation (R4 shape) — exercises scan, broadcast
    * joins, hash aggregate in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("r4_multijoin_region")(spark, "/root/testdata/sf0.001")

  lazy val gates: Seq[Gate] =
    MatrixQueries.gates ++ RelationalQueries.gates ++ EventQueries.gates ++
      DedupQueries.gates ++ VectorQueries.gates ++ TextQueries.gates ++
      CurationQueries.gates ++ SqlQueries.gates ++ IoQueries.gates

  private lazy val byName: Map[String, Gate] = index(gates)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, g) => n -> g.build }

  lazy val oracleSql: Map[String, String] =
    byName.map { case (n, g) => n -> g.oracle }

  /** `gates` by name. A name declared twice throws, naming it: a map would
    * silently keep the last one and drop the other from both views.
    */
  private[graft] def index(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"gates declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }

  /** The entries named in `names`, or all of them when `names` is empty.
    * A name that matches no entry throws, naming it: a misspelled filter
    * must fail rather than pass as an empty run.
    */
  def named[A](entries: Seq[(String, A)], names: Set[String]): Seq[(String, A)] = {
    val unknown = names -- entries.map(_._1)
    require(unknown.isEmpty, s"unknown gate names: ${unknown.toSeq.sorted.mkString(", ")}")
    if (names.isEmpty) entries else entries.filter(e => names(e._1))
  }
}
