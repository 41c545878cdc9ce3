package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Calls into the program's CLI entry point, and small helpers. */
object Graft {
  /** `graft.cli.Cli.run` with its console output captured (so the
    * benchmark's stdout keeps only its own lines); throws on a
    * non-zero exit code. Returns the captured output. */
  def apply(spark: SparkSession, args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val rc = Console.withOut(buf)(graft.cli.Cli.run(spark, args, None))
    val out = buf.toString("UTF-8")
    if (rc != 0) sys.error(s"graft ${args.head} exited $rc: ${out.trim}")
    out
  }

  def timeS(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)

  def treeBytes(p: Path): Long =
    org.apache.commons.io.FileUtils.sizeOfDirectory(p.toFile)

  /** Order-independent checksum of a frame's rows: (row count, sum of
    * 64-bit row hashes as an exact decimal). */
  def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), r.getDecimal(1))
  }
}
