package graft

import graft.meta.MetaStore
import graft.tables.{CompactionOptions, GraftTable}

/** r16 find — reads and compactions over a MAPPING-MIXED state: an open
  * re-bucket marker (live rewrite or crashed attempt) with post-flip
  * writes leaves the snapshot holding files bucketed under TWO
  * key->bucket mappings. Per-bucket dispatch double-surfaced straddling
  * keys on every read path, and a full compaction over that state BAKED
  * the duplicates in permanently (its write skips dedup by contract) —
  * reachable by a normal re-bucket retrying after a heads-CAS conflict
  * with a concurrent upsert, not just by crashes. The fix cuts every
  * merged read at the recorded flip boundaries (RebucketLog.epochsOf):
  * cleanly mixed sets plan one scan task per bucket of the final mapping,
  * ambiguous ones the cross-bucket merge. */
class MidMarkerReadSuite extends SparkFixture {
  import spark.implicits._

  /** Forge the crashed-re-bucket state exactly as compactionRun leaves it
    * after the flip: count flipped + open marker (store-clock boundary),
    * no rewrite. */
  private def forgeOpenMarker(path: String, newN: Int): Unit =
    MetaStore.default.updateInfoAtFlip(path)((cur, ts0) =>
      cur.copy(bucketNum = newN,
        properties = graft.meta.RebucketLog.appendOpen(
          cur.properties, ts0, cur.bucketNum, newN)))

  test("full read mid-open-marker with a new-count delta: no duplicate keys") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 32).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      forgeOpenMarker(path, 8)
      // a write planned under the NEW count lands (bucket CAS passes)
      t.upsert((1 to 16).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      val rows = t.toDF.collect().map(r => (r.getLong(0), r.getInt(1))).sorted
      assert(rows.length == 32, s"expected 32 rows, got ${rows.length}:\n" +
        rows.mkString("\n"))
      assert(rows.take(16).map(_._2).toSeq == (1 to 16).map(_ * 100),
        "delta must win")
      // library path too
      assert(t.toDF(_ => true).count() == 32)
      // time travel INTO the mixed state after more history lands
      val tsMixed = t.lastCommitTs
      t.upsert(Seq((40L, 40)).toDF("id", "v"))
      assert(t.snapshotAt(tsMixed).count() == 32)
    }
  }

  test("plain full compaction in the crashed-marker state does not bake duplicates") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 32).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      forgeOpenMarker(path, 8)
      t.upsert((1 to 16).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      // the retried re-bucket takes exactly this path: plain full
      // compaction over the mixed-mapping state
      t.compaction()
      val rows = t.toDF.collect().map(r => (r.getLong(0), r.getInt(1))).sorted
      assert(rows.length == 32,
        s"compaction baked duplicates: ${rows.length} rows:\n${rows.mkString("\n")}")
      assert(rows.take(16).map(_._2).toSeq == (1 to 16).map(_ * 100))
      // and a full whole-table compaction is the roll-forward: it closed
      // the orphaned marker, so id-derived optimizations come back
      assert(!graft.meta.RebucketLog.hasOpen(t.info.properties),
        "full whole-table compaction must close the orphaned open marker")
      assert(t.validate() == Nil)
    }
  }

  test("SQL (DSv2) full read mid-open-marker: no duplicate keys") {
    withTempPath { wh =>
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      spark.conf.set("spark.graft.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.mm")
      (1 to 32).map(i => (i.toLong, i)).toDF("id", "v")
        .createOrReplaceTempView("mm_src")
      spark.sql("CREATE TABLE graft_cat.mm.t PARTITIONED BY (bucket(2, id)) " +
        "AS SELECT * FROM mm_src")
      val t = GraftTable.forName(spark, "mm.t")
      forgeOpenMarker(t.path, 8)
      t.upsert((1 to 16).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      val out = spark.sql("SELECT * FROM graft_cat.mm.t")
        .collect().map(r => (r.getLong(0), r.getInt(1))).sorted
      assert(out.length == 32, s"DSv2 scan duplicated keys: ${out.length}")
      assert(out.take(16).map(_._2).toSeq == (1 to 16).map(_ * 100))
      // point lookup stays correct (prune is off, scan still finds the key)
      assert(spark.sql("SELECT v FROM graft_cat.mm.t WHERE id = 3")
        .collect().map(_.getInt(0)).toSeq == Seq(300))
    }
  }

  test("mixed-state reads: cursor-split and cross-bucket paths agree") {
    // NO cushion shrink: the flip boundary is store-clock exact, so even
    // millisecond histories classify cleanly around it
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 48).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      forgeOpenMarker(path, 8)
      t.upsert((1 to 24).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      // a tombstone run keeps the set mixed (a rewriting delete would
      // replace every file under the new mapping: one epoch, no split)
      t.deleteTombstone($"id" > 40L)
      // both plan the scan: one partition per bucket of the final (8)
      // mapping, or, forced, one per range partition. The toggle is read
      // whenever a plan builds its scan, so the forced read runs inside it
      def planned(): (String, Int, Seq[String]) = {
        val df = t.toDF(_ => true)
        (df.queryExecution.executedPlan.toString, df.rdd.getNumPartitions,
          df.collect().map(_.toString).sorted.toSeq)
      }
      val (splitPlan, splitParts, split) = planned()
      graft.read.GraftRead.forceCrossBucketRead = true
      val (crossPlan, crossParts, cross) = try planned()
        finally graft.read.GraftRead.forceCrossBucketRead = false
      assert(splitPlan.contains("BatchScan") && splitPlan.contains("GraftScan"),
        s"expected the scan in:\n$splitPlan")
      assert(splitParts == 8, s"$splitParts partitions")
      assert(crossPlan.contains("BatchScan") && crossPlan.contains("GraftScan"),
        s"expected the cross-bucket scan in:\n$crossPlan")
      assert(crossParts == 1, s"$crossParts partitions")
      assert(split == cross, s"split vs cross diverged\nsplit:\n" +
        s"${split.mkString("\n")}\ncross:\n${cross.mkString("\n")}")
      assert(split.length == 40)
    }
  }

  test("lookupByPk mid-open-marker with a new-count delta finds every live key") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 32).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      forgeOpenMarker(path, 8)
      t.upsert((1 to 16).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      // the current count (8) is not the mapping of the base files (2):
      // pruning by it would miss keys whose old bucket differs
      val got = (1 to 32).map(k =>
        k -> t.lookupByPk(Seq(k.toLong)).collect().map(_.getInt(1)).toSeq)
      val wrong = got.filter { case (k, vs) =>
        vs != Seq(if (k <= 16) k * 100 else k) }
      assert(wrong.isEmpty, s"lookups with a wrong answer: $wrong")
    }
  }

  test("PK-equality delete and deleteTombstone mid-open-marker remove every key") {
    for (tombstone <- Seq(false, true)) withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 32).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      forgeOpenMarker(path, 8)
      t.upsert((1 to 16).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      // pruning the targeted files by the current count (8) would miss a
      // key whose base row sits in its old-mapping (2-bucket) file
      (1 to 32).foreach { k =>
        if (tombstone) t.deleteTombstone($"id" === k.toLong)
        else t.delete($"id" === k.toLong)
      }
      val left = t.toDF.collect().map(_.getLong(0)).sorted.toSeq
      assert(left.isEmpty, s"tombstone=$tombstone: keys left after deleting " +
        s"every key: $left")
    }
  }

  test("SecondaryIndex lookup mid-open-marker finds every live key") {
    withTempPath { dir =>
      val t = GraftTable.create(spark,
        (1 to 32).map(i => (i.toLong, s"g$i", i)).toDF("id", "g", "v"),
        s"$dir/src", hashColumns = Seq("id"), bucketNum = 2)
      graft.tables.SecondaryIndex.create(spark, s"$dir/src", s"$dir/idx", "g",
        bucketNum = 2)
      graft.tables.SecondaryIndex.refresh(spark, s"$dir/idx")
      forgeOpenMarker(s"$dir/src", 8)
      // new values, same indexed column: the postings stay exact
      t.upsert((1 to 16).map(i => (i.toLong, s"g$i", i * 100)).toDF("id", "g", "v"))
      val wrong = (1 to 32).map { k =>
        k -> graft.tables.SecondaryIndex.lookup(spark, s"$dir/idx", s"g$k")
          .collect().map(r => (r.getLong(0), r.getInt(2))).toSeq
      }.filter { case (k, got) =>
        got != Seq((k.toLong, if (k <= 16) k * 100 else k)) }
      assert(wrong.isEmpty, s"lookups with a wrong answer: $wrong")
    }
  }

  test("a forced cross-bucket read of a settled table claims no bucket layout") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 64).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 4)
      t.upsert((1 to 64 by 3).map(i => (i.toLong, i * 10)).toDF("id", "v"))
      val files = t.liveFiles
      // a rewritten key inside every file's id bounds: zone maps prune no
      // file, so the planned count shows the bucket prune alone
      val bounds = files.map { f =>
        val cs = graft.meta.FileStats.decode(f.file.stats)("id")
        (cs.mn.get.toLong, cs.mx.get.toLong)
      }
      val k = (1L to 64L by 3).find(k =>
        bounds.forall { case (lo, hi) => lo <= k && k <= hi })
        .getOrElse(fail(s"no key inside every file's bounds: $bounds"))
      val b = graft.write.TransactionalWrite.bucketOf(spark, t.schema,
        Seq("id" -> k), 4)
      val (plain, plainAligned) =
        graft.read.GraftRead.readTracked(spark, t.info, files)
      assert(plainAligned, "a settled all-bucket read is group-aligned")
      assert(graftFilesPlanned(plain.filter($"id" === k)) ==
        files.count(_.file.bucketId == b))
      // the toggle is read whenever a plan builds its scan
      graft.read.GraftRead.forceCrossBucketRead = true
      try {
        val (cross, crossAligned) =
          graft.read.GraftRead.readTracked(spark, t.info, files)
        assert(!crossAligned, "a forced cross-bucket read must not claim alignment")
        assert(graftFilesPlanned(cross.filter($"id" === k)) == files.size,
          "a forced cross-bucket read must not prune by bucket id")
        assert(cross.filter($"id" === k).collect().map(_.getInt(1)).toSeq ==
          Seq(k.toInt * 10))
        assert(cross.count() == 64)
      } finally graft.read.GraftRead.forceCrossBucketRead = false
    }
  }

  test("repair() rolls a crashed re-bucket forward and restores fast paths") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 32).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      forgeOpenMarker(path, 4)
      t.upsert(Seq((1L, 100), (33L, 33)).toDF("id", "v"))
      // degraded-but-correct before repair; bucketed join refuses loudly
      val e = intercept[IllegalArgumentException](t.bucketedJoin(t))
      assert(e.getMessage.contains("repair"), e.getMessage)
      assert(t.repair(), "an open marker needs repair")
      assert(!graft.meta.RebucketLog.hasOpen(t.info.properties))
      assert(!t.repair(), "repair must be idempotent-quiet")
      assert(t.toDF.count() == 33)
      assert(t.toDF.filter($"id" === 1L).select("v")
        .collect().map(_.getInt(0)).toSeq == Seq(100))
      // the fast path is back: bucketed join runs shuffle-free again
      assert(t.bucketedJoin(t).count() == 33)
      assert(t.validate() == Nil)
    }
  }

  test("CALL graft.repair completes an unfinished restore") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 12).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      Thread.sleep(3)
      val ts1 = t.lastCommitTs
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      // crash the count-flipping restore at the flip point
      var calls = 0
      intercept[RuntimeException] {
        MetaStore.default.restoreTable(path, ts1, infoUpdate = Some { cur =>
          calls += 1
          if (calls == 2) throw new RuntimeException("simulated crash")
          cur.copy(bucketNum = 2)
        })
      }
      intercept[IllegalStateException](t.upsert(Seq((2L, 22)).toDF("id", "v")))
      val msg = spark.sql(
        s"CALL graft.repair(table_path => '${t.path}')").collect()
      assert(msg.map(_.getString(0)).exists(_.contains("repaired")),
        msg.mkString(","))
      assert(!t.info.properties.contains(MetaStore.RestorePendingProp))
      assert(t.info.bucketNum == 2)
      t.upsert(Seq((2L, 22)).toDF("id", "v"))
      assert(t.toDF.count() == 12)
      assert(t.validate() == Nil)
    }
  }

  test("r17 pin: full compaction after a crashed flip re-shuffles to the " +
    "new mapping (alignment refused for a non-current single epoch)") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 64).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      // second run in every bucket so the merge read covers ALL groups —
      // the exact precondition under which compaction may claim alignment
      t.upsert((1 to 64).map(i => (i.toLong, i * 10)).toDF("id", "v"))
      // crashed UP-re-bucket 2 -> 4: count flipped + open marker, no rewrite
      forgeOpenMarker(path, 4)
      // roll-forward: plain full compaction must RE-SHUFFLE to the new
      // mapping (a write keeping the old-mapping placement would stamp
      // old bucket ids into a 4-bucket table: duplicate pks after the
      // next upsert, missed bucket-pruned point reads)
      t.compaction()
      assert(t.info.bucketNum == 4)
      assert(t.liveFiles.forall(f => f.file.bucketId >= 0 && f.file.bucketId < 4),
        s"stale bucket ids: ${t.liveFiles.map(_.file.bucketId).distinct}")
      // bucket ids must be the CURRENT mapping's, not just in range
      t.liveFiles.foreach { f =>
        val ids = spark.read.parquet(f.file.path).select("id").collect().map(_.getLong(0))
        ids.foreach { id =>
          val want = graft.write.TransactionalWrite.bucketOf(
            spark, t.schema, Seq("id" -> id), 4)
          assert(want == f.file.bucketId,
            s"id=$id in bucket ${f.file.bucketId}, current mapping says $want")
        }
      }
      t.upsert((1 to 32).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      assert(t.toDF.count() == 64, "duplicate keys after roll-forward")
      assert(t.toDF.filter($"id" === 7L).collect().map(_.getInt(1)).toSeq == Seq(700))
      assert(t.validate() == Nil)
    }
  }
}
