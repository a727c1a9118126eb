package graft.sources

import org.apache.spark.sql.functions.col

/** Sibling-PROCESS catalog worker for the cross-process concurrency
  * stress spec: the in-JVM rootLock cannot serialize two JVMs, so the
  * CREATE_NEW manifest-claim machinery (TableCatalog.claimVersion) is
  * the only thing standing between two processes and a lost update.
  * This main runs a batch of operations against a shared catalog root
  * and exits 0 on success — the spec forks it next to its own
  * in-process writer and asserts no update was lost and no reader
  * broke while a vacuum ran.
  *
  * Modes:
  *  - `insert <table> <n> <workerId>`: n single-row inserts with
  *    worker-unique keys (each insert is one optimistic publish that
  *    must survive races against the other process's publishes)
  *  - `vacuum <table> <n> -`: n vacuum passes (retain 3 versions,
  *    production grace window — manifests of old versions go away
  *    under concurrent writers, data dirs stay protected)
  */
object CatalogWorker {
  def main(args: Array[String]): Unit = {
    val Array(root, mode, table, nStr, idStr) = args.take(5)
    val n = nStr.toInt
    val spark = graft.GraftSession.builder(master = "local[2]")
      .appName("graft-worker").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val cat = new TableCatalog(spark, root)
      mode match {
        case "insert" =>
          val id = idStr.toLong
          for (i <- 0 until n)
            cat.insert(table,
              Seq((id * 100000L + i, s"w$id-$i")).toDF("id", "v"))
        case "vacuum" =>
          for (_ <- 0 until n) {
            cat.vacuum(table, keep = 3)
            // a reader in the vacuuming process too: the current
            // snapshot must always scan
            require(cat.scan(table).filter(col("id") >= 0).count() >= 0)
            Thread.sleep(100)
          }
        case other => sys.error(s"unknown mode $other")
      }
    } finally spark.stop()
  }
}
