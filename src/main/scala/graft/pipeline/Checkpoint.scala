package graft.pipeline

import graft.json._
import java.nio.file.{Files, LinkOption, NotDirectoryException, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Per-partition commit log for resumable validation runs (SURVEY.md §2.8,
  * §7.4.8): one manifest file per committed partition, written
  * temp-then-rename so a crash mid-write never yields a half-committed
  * partition. The interface is Iceberg-shaped (partition-granular commits
  * + metadata rows) but backed by a plain directory in-sandbox.
  *
  * Checkpoint row shape (FIXTURES.md §5): (part, committed, rows_validated,
  * sequences_per_sec, lineage).
  */
final case class PartCommit(
    part: Int,
    rowsValidated: Long,
    sequencesPerSec: Double,
    lineage: String)

final class Checkpoint(dir: String) {
  private val commitsDir: Path = Paths.get(dir, "commits")

  /** Whether the commits directory exists; throws, naming the path, when
    * something else is there, so a damaged checkpoint fails before a run
    * starts its first job. */
  private def hasCommits: Boolean = {
    val isDir = Files.isDirectory(commitsDir)
    if (!isDir && Files.exists(commitsDir, LinkOption.NOFOLLOW_LINKS))
      throw new NotDirectoryException(s"$commitsDir: checkpoint commits path is not a directory")
    isDir
  }

  def committedParts(): Set[Int] = {
    if (!hasCommits) return Set.empty
    Files.list(commitsDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("part=") && s.endsWith(".json") =>
        s.stripPrefix("part=").stripSuffix(".json").toInt }
      .toSet
  }

  def readCommits(): Seq[PartCommit] = {
    if (!hasCommits) return Seq.empty
    Files.list(commitsDir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.endsWith(".json"))
      .sortBy(_.getFileName.toString)
      .map { p =>
        val o = Json.parse(Files.readString(p)).asInstanceOf[JObj]
        PartCommit(
          o.int("part").get.toInt,
          o.int("rows_validated").get,
          o.num("sequences_per_sec").map(_.toDouble).getOrElse(0.0),
          o.str("lineage").getOrElse(""))
      }
  }

  def commit(c: PartCommit): Unit = {
    Files.createDirectories(commitsDir)
    val body = Json.render(JObj(
      "part" -> JNum(c.part),
      "committed" -> JBool(true),
      "rows_validated" -> JNum(c.rowsValidated),
      "sequences_per_sec" -> JNum(BigDecimal(c.sequencesPerSec)),
      "lineage" -> JStr(c.lineage)))
    val tmp = commitsDir.resolve(s".part=${c.part}.json.tmp")
    Files.writeString(tmp, body)
    // rename is atomic on the same filesystem → a reader never sees a
    // partial manifest; ATOMIC_MOVE makes the intent explicit
    Files.move(tmp, commitsDir.resolve(s"part=${c.part}.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
