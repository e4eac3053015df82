package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Data-lake layout: hive-style partitioned writes and partition-pruned
  * reads — with bucketing (BucketingSpec), the two write-time layouts
  * that turn full scans into targeted reads at 100 TB.
  */
class LayoutSpec extends SparkSpec {
  import spark.implicits._

  test("partitionBy month writes a pruned-readable layout") {
    withTempDir("graft_orders_by_month") { tmp =>
      val out = s"$tmp/orders_by_month"
      val orders = spark.read.parquet(s"$sf0001/orders.parquet")
      orders.withColumn("month", date_format($"o_orderdate", "yyyy-MM"))
        .write.partitionBy("month").mode("overwrite").parquet(out)

      val pruned = spark.read.parquet(out).filter($"month" === "1996-03")
      val plan = pruned.queryExecution.executedPlan.toString

      // the month predicate must land in PartitionFilters (directory
      // pruning), not in the row-level data filters
      assert(plan.contains("PartitionFilters: [isnotnull(month"), plan)
      assert(plan.contains("(month"), plan)

      val expected = orders
        .filter(date_format($"o_orderdate", "yyyy-MM") === "1996-03").count()
      assert(pruned.count() == expected && expected > 0)
    }
  }

  test("compaction collapses small files per partition, rows invariant") {
    import java.nio.file.Paths
    withTempDir("graft_events_compact") { tmp =>
      val out = s"$tmp/events_compact"
      // Tables() handles the nanos-timestamp conversion a raw read rejects
      val events = graft.Tables(spark, sf0001, "events")
      // fragment: 16 tiny files per event_type partition
      events.repartition(16)
        .write.partitionBy("event_type").mode("overwrite").parquet(out)

      // exact-decimal sum: a double sum is order-sensitive and the
      // rewrite reorders rows across files
      def stamp() = spark.read.parquet(out)
        .agg(count(lit(1)), graft.functions.Exact.dsum($"value")).collect()(0)
      val beforeRows = stamp()
      val parts = Compaction.partitionDirs(Paths.get(out))
      assert(parts.nonEmpty)
      assert(parts.forall(p => Compaction.dataFiles(p).size == 16),
        "fixture must start fragmented")

      // generous target: every partition's bytes fit one file -> k = 1
      val (before, after) =
        Compaction.compactPartitioned(spark, out, targetBytes = 1L << 30)
      assert(before == 16 * parts.size, s"counted $before files before")
      assert(after == parts.size, s"expected 1 file/partition, got $after")
      assert(parts.forall(p => Compaction.dataFiles(p).size == 1))

      // values invariant under the rewrite
      assert(stamp() == beforeRows)

      // partitions already at target are left alone: recompacting moves
      // nothing (same file names survive)
      val names = parts.map(p => Compaction.dataFiles(p).map(_.getFileName.toString))
      Compaction.compactPartitioned(spark, out, targetBytes = 1L << 30)
      assert(parts.map(p => Compaction.dataFiles(p).map(_.getFileName.toString)) == names,
        "already-compact partitions must not be rewritten")
    }
  }

  test("snapshot versions survive a later merge and compaction") {
    import java.nio.file.{Files, Paths}
    withTempDir("graft_snap_spec") { tmp =>
      val root = s"$tmp/snap_spec"
      val orders = graft.Tables(spark, sf0001, "orders")
        .select($"o_orderkey", $"o_totalprice", lit("base").as("src"),
          $"o_orderstatus")
      def stamp(v: Int) = Snapshots.read(spark, root, v)
        .agg(count(lit(1)), graft.functions.Exact.dsum($"o_totalprice"),
          sum(($"src" === "update").cast("long"))).collect()(0)

      // v1: initial load
      assert(Snapshots.commit(spark, root, orders, "o_orderstatus") == 1)
      val v1Files = Snapshots.manifest(root, 1)
      val v1State = stamp(1)

      // v2: merge doubling F prices, F partition replaced, others carried
      val touched = Snapshots.read(spark, root, 1)
        .filter($"o_orderstatus" === "F")
        .select($"o_orderkey", ($"o_totalprice" * 2).as("o_totalprice"),
          lit("update").as("src"), $"o_orderstatus")
      assert(Snapshots.commit(spark, root, touched, "o_orderstatus",
        carry = !_.contains("o_orderstatus=F/")) == 2)
      // carried entries are exactly v1's non-F files
      val v2Files = Snapshots.manifest(root, 2)
      assert(v1Files.filterNot(_.contains("o_orderstatus=F/"))
        .forall(v2Files.contains), "untouched partitions must carry forward")
      assert(!v2Files.exists(f => f.startsWith("c00001/") &&
        f.contains("o_orderstatus=F/")), "replaced partition must not carry")
      val v2State = stamp(2)
      assert(v2State != v1State, "merge must change the live state")

      // v3: compaction commit — values invariant, live set all-new + small
      assert(Snapshots.compactCommit(spark, root, "o_orderstatus") == 3)
      val v3Files = Snapshots.manifest(root, 3)
      assert(stamp(3) == v2State, "compaction must not change values")
      assert(v3Files.forall(_.startsWith("c00003/")))
      // one file per partition value
      val nStatuses = Snapshots.read(spark, root, 3)
        .select($"o_orderstatus").distinct().count()
      assert(v3Files.size == nStatuses,
        s"expected $nStatuses live files, got ${v3Files.size}")

      // the OLD snapshots still read bit-identically: every v1 file is on
      // disk and v1's state is untouched by merge + compaction
      assert(v1Files.forall(f =>
        Files.isRegularFile(Paths.get(root, "data", f))),
        "old manifest files must survive later commits")
      assert(stamp(1) == v1State, "v1 must read the pre-merge state")
      assert(stamp(2) == v2State)

      // vacuum to v2: v1's replaced F files (referenced by no retained
      // manifest) are deleted, v1's manifest is dropped (reads below the
      // floor fail loudly), and v2/v3 read bit-identically
      val (deleted, kept) = Snapshots.vacuum(root, retainFrom = 2)
      val v1Only = v1Files.filter(_.contains("o_orderstatus=F/"))
      assert(deleted == v1Only.size,
        s"expected ${v1Only.size} dead files, deleted $deleted")
      assert(v1Only.forall(f =>
        !Files.exists(Paths.get(root, "data", f))), "dead files must go")
      assert((v2Files ++ v3Files).distinct.size == kept)
      assert((v2Files ++ v3Files).forall(f =>
        Files.isRegularFile(Paths.get(root, "data", f))),
        "retained versions' files must survive vacuum")
      intercept[Exception](Snapshots.read(spark, root, 1))
      assert(stamp(2) == v2State && stamp(3) == v2State,
        "retained versions must read identically after vacuum")
    }
  }

  test("empty-manifest version fails loudly, like a missing manifest") {
    withTempDir("graft_snap_empty_spec") { tmp =>
      val root = s"$tmp/snap_empty_spec"
      val orders = graft.Tables(spark, sf0001, "orders")
        .select($"o_orderkey", $"o_orderstatus")
      // v1: an EMPTY DataFrame writes no parquet files -> empty manifest
      assert(Snapshots.commit(spark, root,
        orders.filter($"o_orderkey" < 0), "o_orderstatus") == 1)
      val e = intercept[IllegalStateException](Snapshots.read(spark, root, 1))
      assert(e.getMessage.contains("empty manifest"),
        s"want the deliberate empty-manifest error, got: ${e.getMessage}")
      // a later real commit is unaffected
      assert(Snapshots.commit(spark, root, orders, "o_orderstatus") == 2)
      assert(Snapshots.read(spark, root, 2).count() == orders.count())
    }
  }

  test("schema evolution: added column null-fills carried files only") {
    withTempDir("graft_snap_evo_spec") { tmp =>
      val root = s"$tmp/snap_evo_spec"
      val orders = graft.Tables(spark, sf0001, "orders")
        .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      assert(Snapshots.commit(spark, root, orders, "o_orderstatus") == 1)

      // v2 rewrites only the F partition WITH a column v1 never had
      val evolved = Snapshots.read(spark, root, 1)
        .filter($"o_orderstatus" === "F")
        .withColumn("priority_class",
          when($"o_orderkey" % 4 === 0, "high").otherwise("std"))
      assert(Snapshots.commit(spark, root, evolved, "o_orderstatus",
        carry = !_.contains("o_orderstatus=F/")) == 2)

      // the RAW v1 read must not invent the column — old versions keep
      // exactly the schema they were written with
      assert(!Snapshots.read(spark, root, 1).columns.contains("priority_class"),
        "pre-evolution version must not grow the new column")

      // the v2 read reconciles schemas: carried (non-F) files null-fill,
      // the rewritten partition is fully populated — no old-file rewrite
      val v2 = Snapshots.read(spark, root, 2)
      assert(v2.columns.contains("priority_class"))
      val byStatus = v2.groupBy($"o_orderstatus")
        .agg(count(lit(1)).as("n"), count($"priority_class").as("nc"))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(byStatus("F")._1 == byStatus("F")._2,
        "rewritten partition must be fully classified")
      byStatus.filterNot(_._1 == "F").foreach { case (st, (_, nc)) =>
        assert(nc == 0L, s"carried partition $st must null-fill, got $nc")
      }
    }
  }
}
