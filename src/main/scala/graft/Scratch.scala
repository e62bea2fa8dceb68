package graft

import java.io.File
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame

/** The one owner of this JVM's scratch directories.
  *
  * Every scratch path the engine writes lives under `graft-scratch/jvm-<pid>`
  * in one of two bases: the JVM's temp dir (a harness may point it at a
  * per-run directory, so it is read from the property, never assumed) and a
  * tmpfs twin under `/dev/shm` where the host has one. The pid scope keeps
  * two JVMs over one fixture off each other's files, and no other process
  * reads them, so an exit hook deletes both of this JVM's roots. A JVM
  * killed before its hook ran leaves its roots behind; the first use of
  * this object in any later JVM sweeps the roots whose process is gone,
  * and the pid-tagged table directories builds before this object left
  * in the temp dir.
  */
object Scratch {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private val bases: Seq[File] =
    (tmp +: Some(new File("/dev/shm")).filter(_.isDirectory).toSeq)
      .map(new File(_, "graft-scratch"))

  private val scope = s"jvm-${ProcessHandle.current().pid()}"
  private val disk = new File(bases.head, scope)
  private val tmpfs = new File(bases.last, scope)

  /** A JVM root under a base: `jvm-<pid>`. */
  private val Root = """jvm-(\d+)""".r

  /** A table directory sql18 and sql21 wrote to the temp dir before this
    * object existed: `graft_ctas-<fixture hash>p<pid>`, `graft_part-…`,
    * both in hex. Those with fixed names (`graft-layout`, `graft-io`, …)
    * carry no pid to tell a live owner from a dead one, and stay.
    */
  private val OldTable = """graft_(?:ctas|part)-\p{XDigit}+p(\p{XDigit}+)""".r

  sweep(bases, tmp)
  sys.addShutdownHook(Seq(disk, tmpfs).foreach(f => delete(f.toPath)))

  /** A stable directory for `kind` and `key` (a fixture dir, a corpus
    * digest input), the same path on every call in this JVM: the home of
    * results memoized across calls. The key enters as a 64-bit SHA-256
    * prefix, so two keys never share a directory in practice. The writer
    * creates the directory.
    */
  def dir(kind: String, key: String): String = {
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(key.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    s"$disk/$kind-$tag"
  }

  /** A fresh empty directory, deleted when `body` returns or throws. With
    * `tmpfs` it sits on the tmpfs base where the host has one (streaming
    * checkpoints: dozens of small synced files per micro-batch).
    */
  def using[A](kind: String, tmpfs: Boolean = false)(body: Path => A): A = {
    val root = if (tmpfs) this.tmpfs else disk
    root.mkdirs()
    val d = Files.createTempDirectory(root.toPath, s"$kind-")
    try body(d) finally delete(d)
  }

  /** Best-effort recursive delete. */
  private def delete(path: Path): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(path.toFile)

  /** Writes `df` as exactly one Parquet file at `target`. Spark writes a
    * directory, so the part file is staged under `staging` (which must not
    * lie inside a directory a file source lists) and moved into place; the
    * staging directory is deleted afterwards.
    */
  def writeSingleParquet(df: DataFrame, staging: Path, target: Path): Unit = {
    df.coalesce(1).write.parquet(staging.toString)
    val parts = staging.toFile.listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(parts.length == 1,
      s"expected one staged part file in $staging, got ${parts.length}")
    Files.move(parts.head.toPath, target)
    delete(staging)
  }

  /** Deletes the `jvm-<pid>` roots under each base, and the [[OldTable]]
    * directories under `tmp`, whose process is gone. Live processes'
    * entries, this JVM's among them, and other entries stay.
    */
  private[graft] def sweep(bases: Seq[File], tmp: File): Unit = {
    def entries(d: File) = Option(d.listFiles()).toSeq.flatten
    def gone(pid: String, radix: Int) =
      pid.length <= 15 && ProcessHandle.of(java.lang.Long.parseLong(pid, radix)).isEmpty
    (bases.flatMap(entries).filter(_.getName match {
      case Root(pid) => gone(pid, 10)
      case _ => false
    }) ++ entries(tmp).filter(_.getName match {
      case OldTable(pid) => gone(pid, 16)
      case _ => false
    })).foreach(d => delete(d.toPath))
  }
}
