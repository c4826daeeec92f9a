package graftbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: `local[cores]` with the confs
  * graft's own `graft.Bench` sets, so the benchmark times the same
  * physical plans. Warehouse, checkpoints and temp files all live under
  * `work`, which the caller owns. */
object Sessions {

  def build(cores: Int, work: java.io.File): SparkSession = {
    val wh = new java.io.File(work, "warehouse")
    wh.mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "10m")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh.getAbsolutePath)
      .config("spark.local.dir", new java.io.File(work, "spark-local").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new java.io.File(work, "hadoop-tmp").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
