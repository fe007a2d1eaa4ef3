package perfbench

import java.io.File

/**
 * Build step, run once under `-XX:ArchiveClassesAtExit`: starts a session
 * and runs a floor probe and a parquet round trip, so that the JVM's
 * class-data-sharing archive holds the classes every benchmark run loads
 * while starting Spark. Usage: `ClassArchive <scratch-dir>`.
 */
object ClassArchive {
  def main(args: Array[String]): Unit = {
    val work = new File(args(0))
    val spark = Main.session(work)
    try {
      Main.floorProbe(spark)
      val path = new File(work, "probe").getPath
      spark.range(1000).write.mode("overwrite").parquet(path)
      require(spark.read.parquet(path).count() == 1000)
    } finally {
      spark.stop()
      Common.deleteRecursively(work)
    }
  }
}
