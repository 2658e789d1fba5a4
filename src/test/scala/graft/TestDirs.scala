package graft

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scratch copies of a testdata dir for specs that rewrite tables in
  * place. */
object TestDirs {
  /** The smallest testdata scale (TESTDATA.md). */
  val sf0001 = "/root/testdata/sf0.001"

  def copyDir(src: Path, dst: Path): Unit =
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }

  def rmDir(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Replace `<dir>/<table>.parquet` with `edit` of its current rows. */
  def rewrite(spark: SparkSession, dir: Path, table: String)
      (edit: DataFrame => DataFrame): Unit = {
    val cur = dir.resolve(s"$table.parquet")
    val next = dir.resolve(s"$table.parquet.next")
    edit(spark.read.parquet(cur.toString)).write.parquet(next.toString)
    rmDir(cur)
    Files.move(next, cur)
  }
}
