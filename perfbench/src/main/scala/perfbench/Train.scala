package perfbench

import graft.io.CsvIngest

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** The class-loading training run the build makes once, with
  * `-XX:ArchiveClassesAtExit`: it starts a session the way [[Main]] does
  * and touches the formats every workload uses (CSV, parquet, Derby over
  * JDBC), so the archive holds the classes a run loads before its first
  * measurement.
  *
  *   perfbench.Train <temp root>
  */
object Train {
  def main(args: Array[String]): Unit = {
    val root = new File(args(0))
    val cores = Runtime.getRuntime.availableProcessors()
    System.setProperty("derby.system.home", new File(root, "derby").getAbsolutePath)
    System.setProperty("derby.stream.error.file",
      new File(root, "derby/derby.log").getAbsolutePath)
    val spark = Main.session("train", cores, root)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(0, 1000000, 1, cores).selectExpr("sum(id)").collect()
    val csv = new File(root, "t.csv")
    Files.write(csv.toPath,
      "k,v,ts\n1,a,2018-01-01 00:00:00\n2,nan,2018-01-02 00:00:00\n"
        .getBytes(StandardCharsets.UTF_8))
    val df = CsvIngest.readCsv(spark, csv.getAbsolutePath)
    val pq = new File(root, "t.parquet").getAbsolutePath
    df.groupBy("v").count().write.parquet(pq)
    spark.read.parquet(pq).collect()
    val url = "jdbc:derby:memory:perfbench_train;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.iapi.jdbc.AutoloadedDriver")
    df.write.jdbc(url, "t", props)
    spark.read.jdbc(url, "t", props).collect()
    spark.stop()
  }
}
