package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TxnCatalogSpec extends SparkSuite {
  import spark.implicits._

  private def tmp() = Files.createTempDirectory("txncat").toString

  test("commit/snapshot roundtrip, versions increment, time travel") {
    val root = tmp()
    assert(TxnCatalog.latestVersion(root).isEmpty)
    assert(TxnCatalog.snapshot(spark, root).isEmpty)

    val v0 = TxnCatalog.commit(spark, root) { cur =>
      assert(cur.isEmpty)
      Seq(("f1", 10L)).toDF("file_path", "num_rows")
    }
    assert(v0 == 0L)
    val v1 = TxnCatalog.commit(spark, root) { cur =>
      cur.get.union(Seq(("f2", 20L)).toDF("file_path", "num_rows"))
    }
    assert(v1 == 1L)
    assert(TxnCatalog.latestVersion(root).contains(1L))
    assert(TxnCatalog.snapshot(spark, root).get.count() == 2)
    // time travel: v0 still readable and unchanged
    assert(TxnCatalog.snapshot(spark, root, Some(0L)).get.count() == 1)
  }

  test("marker claim is exclusive: losing a mid-commit race retries") {
    val root = tmp()
    TxnCatalog.commit(spark, root)(_ =>
      Seq(("f1", 1L)).toDF("file_path", "num_rows"))
    // interloper commits version 1 AFTER our commit reads latest=0 but
    // before it publishes — i.e. from inside the update function
    var applications = 0
    val v = TxnCatalog.commit(spark, root) { cur =>
      applications += 1
      if (applications == 1) {
        val d = java.nio.file.Paths.get(root, "v000001-feedbeef")
        Seq(("f1", 1L), ("f9", 9L)).toDF("file_path", "num_rows")
          .coalesce(1).write.parquet(d.toString)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(root, "_commits", "1.json"),
          """{"version": 1, "dir": "v000001-feedbeef", "ts": 0}""")
      }
      cur.get.union(Seq(("f2", 2L)).toDF("file_path", "num_rows"))
    }
    // lost the race at v1, re-applied on top of the interloper's snapshot
    assert(v == 2L)
    assert(applications == 2)
    val files = TxnCatalog.snapshot(spark, root).get
      .select("file_path").as[String].collect().toSet
    assert(files == Set("f1", "f9", "f2"))
  }

  test("appendNewFiles is incremental and composes with pruning") {
    val root = tmp()
    val table = tmp()
    Seq((1L, 5.0), (2L, 6.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$table/t")
    TxnCatalog.appendNewFiles(spark, s"$table/t", root, Seq("id"))
    val n0 = TxnCatalog.snapshot(spark, root).get.count()
    assert(n0 >= 1)

    Seq((100L, 7.0)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(s"$table/t")
    TxnCatalog.appendNewFiles(spark, s"$table/t", root, Seq("id"))
    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.count() == n0 + 1) // only the new file was added
    assert(snap.select("file_path").distinct().count() == snap.count())

    // snapshot-isolated pruning: id >= 50 keeps only the new file
    val keep = StatsCatalog.pruneFiles(snap,
      Seq(StatsCatalog.Pred("id", StatsCatalog.GtEq, "50")))
    assert(keep.size == 1)
    assert(spark.read.parquet(keep: _*).count() == 1)
  }

  test("an empty diff commits nothing; reconcile with no table and no " +
       "catalog is a no-op") {
    val root = tmp()
    val table = tmp()
    def markers = java.nio.file.Files.list(
      java.nio.file.Paths.get(root, "_commits")).toArray.length
    // missing table, then an empty one: nothing to catalog, nothing written
    assert(TxnCatalog.reconcile(spark, s"$table/t", root, Seq("id")) == -1L)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(table, "t"))
    assert(TxnCatalog.reconcile(spark, s"$table/t", root, Seq("id")) == -1L)
    assert(TxnCatalog.appendNewFiles(spark, s"$table/t", root, Seq("id")) == -1L)
    assert(TxnCatalog.latestVersion(root).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "_commits")))

    Seq((1L, 1.0)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$table/t/date=2024-01-01")
    assert(TxnCatalog.reconcile(spark, s"$table/t", root, Seq("id")) == 0L)
    assert(markers == 1)
    // back-to-back no-op updates of every flavour keep v0, one marker
    assert(TxnCatalog.reconcile(spark, s"$table/t", root, Seq("id")) == 0L)
    assert(TxnCatalog.reconcile(spark, s"$table/t", root, Seq("id")) == 0L)
    assert(TxnCatalog.appendNewFiles(spark, s"$table/t", root, Seq("id")) == 0L)
    assert(TxnCatalog.appendNewFilesWatermarked(spark, s"$table/t", root,
      Seq("id")) == 0L)
    assert(markers == 1)
    assert(TxnCatalog.snapshot(spark, root).get.count() == 1)

    // a real change still commits
    Seq((2L, 2.0)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$table/t/date=2024-01-01")
    assert(TxnCatalog.reconcile(spark, s"$table/t", root, Seq("id")) == 1L)
    assert(markers == 2)
    assert(TxnCatalog.snapshot(spark, root).get.count() == 2)
  }

  test("appendNewFilesWatermarked: discovers new partitions and new files " +
       "in the watermark partition, matches the full-diff result") {
    val root = tmp()
    val rootFull = tmp()
    val table = tmp()
    // bootstrap: two date partitions
    Seq((1L, 1.0)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$table/t/date=2024-01-01")
    Seq((2L, 2.0)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$table/t/date=2024-01-02")
    TxnCatalog.appendNewFilesWatermarked(spark, s"$table/t", root, Seq("id"))
    val n0 = TxnCatalog.snapshot(spark, root).get.count()
    assert(n0 >= 2)

    // late file into the watermark partition + a brand-new partition
    Seq((3L, 3.0)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$table/t/date=2024-01-02")
    Seq((4L, 4.0)).toDF("id", "v").coalesce(1)
      .write.mode("append").parquet(s"$table/t/date=2024-01-03")
    TxnCatalog.appendNewFilesWatermarked(spark, s"$table/t", root, Seq("id"))

    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.count() == n0 + 2)
    assert(snap.select("file_path").distinct().count() == snap.count())
    // same catalog contents as the O(table) full diff
    TxnCatalog.appendNewFiles(spark, s"$table/t", rootFull, Seq("id"))
    val full = TxnCatalog.snapshot(spark, rootFull).get
      .select("file_path").as[String].collect().toSet
    val wm = snap.select("file_path").as[String].collect().toSet
    assert(wm == full)
  }

  test("partitionWatermark is a single-row aggregate, equal to the driver " +
       "max, on a multi-partition catalog") {
    val root = tmp()
    val table = tmp()
    for (d <- Seq("2024-01-01", "2024-01-02", "2024-01-03"); i <- 0 until 2)
      Seq((i.toLong, i.toDouble)).toDF("id", "v").coalesce(1)
        .write.mode("append").parquet(s"$table/t/date=$d")
    TxnCatalog.appendNewFiles(spark, s"$table/t", root, Seq("id"))
    val snap = TxnCatalog.snapshot(spark, root).get
    assert(snap.count() >= 6)
    val tableUri = java.nio.file.Paths.get(s"$table/t").toUri.toString
      .replaceFirst("^file:///", "file:/")

    // capture every query execution during the watermark computation and
    // assert the single action is a GLOBAL AGGREGATE (one output row by
    // definition) — not a plain collect of the catalog's file_path column
    val plans = scala.collection.mutable.ArrayBuffer.empty[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans += qe.executedPlan.toString
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val wm = TxnCatalog.partitionWatermark(snap, tableUri)
      org.apache.spark.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      val fetched = plans.toSeq // frozen before any further action runs
      // behavioral equality with the old driver-side max
      val driverMax = snap.select("file_path").as[String].collect()
        .map { uri =>
          val rel = uri.stripPrefix(tableUri).stripPrefix("/")
          val s = rel.indexOf('/'); if (s < 0) "" else rel.substring(0, s)
        }.max
      assert(wm.contains(driverMax))
      assert(wm.contains("date=2024-01-03"))
      assert(fetched.size == 1,
        s"watermark ran ${fetched.size} actions; expected exactly 1")
      assert(fetched.head.contains("Aggregate") &&
             fetched.head.contains("max("),
        s"watermark action is not a max aggregate:\n${fetched.head}")
    } finally spark.listenerManager.unregister(listener)
  }

  test("reconcile survives schema-drifted files (null stats, deletions still fold)") {
    val root = tmp()
    val table = tmp()
    // one normal file, cataloged
    Seq((1L, "2024-06-01 10:00:00")).toDF("id", "ts")
      .select(col("id"), col("ts").cast("timestamp").as("ts"))
      .write.mode("overwrite").parquet(table)
    TxnCatalog.reconcile(spark, table, root, Seq("ts"))
    val before = TxnCatalog.snapshot(spark, root).get.collect()
    assert(before.length == 1)
    assert(before.head.getAs[String]("min_ts") != null)

    // out-of-band: the cataloged file is replaced by a DRIFTED file (no
    // ts column at all) — reconcile must still commit: the deleted row
    // is dropped and the drifted file gets null min/max (readers treat
    // null-stats rows as scan-everything straddlers)
    Seq(2L).toDF("id").write.mode("overwrite").parquet(table)
    spark.catalog.refreshByPath(table)
    TxnCatalog.reconcile(spark, table, root, Seq("ts"))

    val after = TxnCatalog.snapshot(spark, root).get.collect()
    assert(after.length == 1, after.toSeq)
    val row = after.head
    assert(row.getAs[String]("file_path") !=
      before.head.getAs[String]("file_path"))
    assert(row.isNullAt(row.fieldIndex("min_ts")))
    assert(row.isNullAt(row.fieldIndex("max_ts")))
    assert(row.getAs[Long]("num_rows") == 1L)
  }

  test("replaceFiles swaps compacted files in one version") {
    val root = tmp()
    TxnCatalog.commit(spark, root)(_ =>
      Seq(("small1", 1L), ("small2", 1L), ("big", 100L))
        .toDF("file_path", "num_rows"))
    TxnCatalog.replaceFiles(spark, root,
      removed = Seq("small1", "small2"),
      added = Seq(("merged", 2L)).toDF("file_path", "num_rows"))
    val files = TxnCatalog.snapshot(spark, root).get
      .select("file_path").as[String].collect().toSet
    assert(files == Set("big", "merged"))
  }

  test("path-based catalog readers resolve the TxnCatalog layout") {
    val root = tmp()
    val table = tmp()
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .coalesce(1).write.parquet(s"$table/t")
    TxnCatalog.appendNewFiles(spark, s"$table/t", root, Seq("id"))
    assert(StatsCatalog.countStar(spark, root) == 2L)
    assert(StatsCatalog.pruneFiles(spark, root,
      Seq(StatsCatalog.Pred("id", StatsCatalog.GtEq, "0"))).nonEmpty)
  }

  test("vacuum keeps exactly the latest `keep` versions present, at high " +
       "version numbers with gaps") {
    val root = tmp()
    val present = Seq(1000000L, 1000001L, 1000003L, 1000004L, 1000007L)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_commits"))
    present.foreach { v =>
      val dir = s"v$v-seed"
      Seq((s"f$v", 1L)).toDF("file_path", "num_rows")
        .coalesce(1).write.parquet(s"$root/$dir")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(root, "_commits", s"$v.json"),
        s"""{"version": $v, "dir": "$dir", "ts": 0}""")
    }
    TxnCatalog.vacuum(root, keep = 3)
    def names(sub: String) = Files.list(java.nio.file.Paths.get(root, sub))
      .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
    assert(names("_commits").toSet ==
      Set("1000003.json", "1000004.json", "1000007.json"))
    assert(names(".").filter(_.startsWith("v")).toSet ==
      Set("v1000003-seed", "v1000004-seed", "v1000007-seed"))
    assert(TxnCatalog.snapshot(spark, root).get
      .select("file_path").as[String].collect().toSeq == Seq("f1000007"))
    assert(TxnCatalog.commit(spark, root)(_.get) == 1000008L)
  }

  test("vacuum drops old versions, keeps the latest readable") {
    val root = tmp()
    (0 until 4).foreach { i =>
      TxnCatalog.commit(spark, root) { _ =>
        Seq((s"f$i", i.toLong)).toDF("file_path", "num_rows")
      }
    }
    TxnCatalog.vacuum(root, keep = 2)
    assert(TxnCatalog.snapshot(spark, root, Some(0L)).isEmpty)
    assert(TxnCatalog.snapshot(spark, root, Some(1L)).isEmpty)
    assert(TxnCatalog.snapshot(spark, root, Some(2L)).isDefined)
    assert(TxnCatalog.snapshot(spark, root).get
      .select("file_path").as[String].collect().toSeq == Seq("f3"))
  }
}
