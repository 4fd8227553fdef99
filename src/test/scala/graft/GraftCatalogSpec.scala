package graft

import graft.operators.Text
import graft.sources.InvertedIndexStore
import org.apache.spark.sql.functions.{col, count, lit, sum, to_timestamp}
import org.scalatest.funsuite.AnyFunSuite

/** The SQL surface contract: an analyst typing plain SQL against the
  * registered views gets THE SAME results as the Scala operator paths —
  * the reference's `impala/ny_taxi/bi_*.impala` workflow, served by
  * graft stores. Three semantics from three tiers: a BI aggregate over
  * a base table (q2), an index probe over the persisted posting
  * relation (q86b — through the PRUNED probe view, so the SQL path
  * pays the same manifest file skip), and manifest time travel over
  * the versioned store's as-of views (q109). */
class GraftCatalogSpec extends AnyFunSuite {
  import TestSpark.spark

  private val sf = "/root/testdata/sf0.01"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  test("q2 semantics as a SQL string over the registered base tables") {
    GraftCatalog.register(spark, sf)
    val sql = spark.sql(
      """SELECT o_custkey, count(*) AS trip_cnt,
        |  sum(CAST(round((o_totalprice)*100) AS BIGINT))/100.0d AS sum_total
        |FROM orders GROUP BY 1
        |ORDER BY trip_cnt DESC, o_custkey LIMIT 10""".stripMargin)
    assert(rows(sql) == rows(operators.Relational.q2TopkByAgg(spark, sf)),
      "SQL-surface q2 diverged from the operator result")
  }

  test("q86b semantics as a SQL string over the pruned probe view") {
    GraftCatalog.register(spark, sf)
    GraftCatalog.probeView(spark, sf, "graft_probe", Text.Bm25Query)
    val sql = spark.sql(GraftCatalog.bm25Sql("graft_probe", Text.Bm25Query,
      Text.Bm25K1, Text.Bm25B))
    val viaOperator = InvertedIndexStore.q86bBm25Index(spark, sf)
    // bit-identical: same relation, same double arithmetic shape
    assert(rows(sql) == rows(viaOperator),
      "SQL-surface BM25 diverged from the q86b operator result")
    // and the probe view really is pruned: fewer files than the store
    val path = InvertedIndexStore.store(spark, sf)
    val all = spark.read.parquet(path).inputFiles.length
    val pruned = spark.table("graft_probe").inputFiles.length
    assert(pruned < all,
      s"probe view reads $pruned of $all files — manifest skip not applied")
    // an empty term set reaches the view's own contract check
    val e = intercept[IllegalArgumentException](
      GraftCatalog.probeView(spark, sf, "graft_probe_none", Nil))
    assert(e.getMessage.contains("selected no posting files"), e.getMessage)
  }

  test("q109 semantics as a SQL string over the as-of version views") {
    GraftCatalog.register(spark, sf)
    val sql = spark.sql(
      """SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
        |  sum(amount_c) AS amount_c,
        |  count(DISTINCT o_custkey) AS n_customers FROM graft_orders_v1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), sum(amount_c),
        |  count(DISTINCT o_custkey) FROM graft_orders_v2
        |UNION ALL
        |SELECT CAST(3 AS BIGINT), count(*), sum(amount_c),
        |  count(DISTINCT o_custkey) FROM graft_orders_v3
        |ORDER BY version""".stripMargin)
    assert(rows(sql) == rows(sources.VersionedStore.q109TimeTravel(spark, sf)),
      "SQL-surface time travel diverged from the q109 operator result")
  }

  test("CALL graft_store_build registers the zorder/manifest/compact relations with parity") {
    for (family <- Seq("zorder", "manifest", "compact", "keyed")) {
      val out = GraftCatalog.call(spark,
        s"CALL graft_store_build('$family', '$sf')").collect()
      assert(out.nonEmpty, s"$family build returned no views")
      out.foreach { r =>
        val (view, path) = (r.getString(0), r.getString(1))
        assert(spark.catalog.tableExists(view), s"$view not registered")
        // parity: the view serves EXACTLY the store files' content
        assert(spark.table(view).count() == spark.read.parquet(path).count(),
          s"$view diverged from its store at $path")
      }
    }
    // the q95 semantics run as plain SQL over the registered view
    val viaSql = spark.sql(
      """SELECT event_type, count(*) AS n FROM graft_events_compact
        |GROUP BY 1 ORDER BY 1""".stripMargin).collect().map(_.toSeq).toSeq
    val direct = spark.read.parquet(sources.CompactStore.store(spark, sf))
      .groupBy("event_type").count().orderBy("event_type")
      .collect().map(_.toSeq).toSeq
    assert(viaSql == direct, "SQL over graft_events_compact diverged")
  }

  test("CALL graft_store_drop deregisters views; files stay readable") {
    GraftCatalog.call(spark, s"CALL graft_store_build('zorder', '$sf')")
    assert(spark.catalog.tableExists("graft_events_zorder"))
    val dropped = GraftCatalog.call(spark,
      "CALL graft_store_drop('zorder')").collect().map(_.getString(0))
    assert(dropped.sameElements(Array("graft_events_zorder")))
    assert(!spark.catalog.tableExists("graft_events_zorder"))
    // external-table drop semantics: the store files survive
    val (p, _) = sources.ZOrderStore.store(spark, sf)
    assert(spark.read.parquet(p).count() > 0)
    // re-build re-registers
    GraftCatalog.call(spark, s"CALL graft_store_build('zorder', '$sf')")
    assert(spark.catalog.tableExists("graft_events_zorder"))
  }

  test("CALL graft_store_optimize commits a versioned compaction; content does not move") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_opt_").toString + "/store"
    // a stream-shaped store: two append commits
    graft.streaming.VersionedCommitSink.appendBatch(
      (1L to 500L).map(k => (k, k * 2)).toDF("k", "v"), path, 0L)
    graft.streaming.VersionedCommitSink.appendBatch(
      (501L to 900L).map(k => (k, k * 2)).toDF("k", "v"), path, 1L)
    val tipBefore = sources.VersionedStore.versions(spark, path).max
    val contentBefore = sources.VersionedStore
      .readVersion(spark, path, tipBefore)
      .orderBy("k").collect().map(_.toSeq).toSeq
    val out = GraftCatalog.call(spark,
      s"CALL graft_store_optimize('versioned', '$path', 'k')").collect()
    val committed = out.head.getInt(1)
    assert(committed == tipBefore + 1, s"optimize committed $committed")
    val contentAfter = sources.VersionedStore
      .readVersion(spark, path, committed)
      .orderBy("k").collect().map(_.toSeq).toSeq
    assert(contentAfter == contentBefore, "compaction moved the content")
  }

  test("CALL graft_store_purge executes an erasure batch as a delete commit") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_purge_").toString + "/store"
    graft.streaming.VersionedCommitSink.appendBatch(
      (1L to 300L).map(k => (k, k * 2)).toDF("k", "v"), path, 0L)
    val out = GraftCatalog.call(spark,
      s"CALL graft_store_purge('versioned', '$path', 'k', '10, 20,30')").collect()
    val committed = out.head.getInt(1)
    assert(committed == 2)
    val tip = sources.VersionedStore.readVersion(spark, path, committed)
      .select("k").as[Long].collect().toSet
    assert(tip == (1L to 300L).toSet -- Set(10L, 20L, 30L))
    // history still reads the purged rows until vacuum
    assert(sources.VersionedStore.readVersion(spark, path, 1).count() == 300L)
  }

  test("CALL graft_store_purge with mode 'dv' commits a deletion vector") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_dv_").toString + "/store"
    graft.streaming.VersionedCommitSink.appendBatch(
      (1L to 300L).map(k => (k, k * 2)).toDF("k", "v"), path, 0L)
    val f1 = sources.VersionedStore.versionFiles(spark, path, 1).toSet
    val out = GraftCatalog.call(spark,
      s"CALL graft_store_purge('versioned', '$path', 'k', '5,6,7', 'dv')")
      .collect()
    val committed = out.head.getInt(1)
    assert(committed == 2)
    // zero data files written: every file shared by reference
    assert(sources.VersionedStore.versionFiles(spark, path, 2).toSet == f1)
    assert(sources.VersionedStore.readVersion(spark, path, 2)
      .select("k").as[Long].collect().toSet ==
      (1L to 300L).toSet -- Set(5L, 6L, 7L))
    // optimize FOLDS the vector physical (the dv design's fold point)
    GraftCatalog.call(spark,
      s"CALL graft_store_optimize('versioned', '$path', 'k')")
    val raw = spark.read.parquet(sources.VersionedStore
      .versionFiles(spark, path, 3).toIndexedSeq: _*)
      .select("k").as[Long].collect().toSet
    assert((raw & Set(5L, 6L, 7L)).isEmpty,
      "optimize carried dv-purged rows into the compacted files")
  }

  test("CALL graft_store_upsert: MERGE-shaped DML with exactly-once replay") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cat_ups_").toString
    val (sqlPath, opPath) = (s"$base/sql_store", s"$base/op_store")
    // seed both stores identically through the operator path
    val seed = (1L to 100L).map(k => (k, 0L)).toDF("key", "v")
    graft.streaming.UpsertSink.upsertBatch(seed, sqlPath, 0L, "key",
      initialPartitions = 4)
    graft.streaming.UpsertSink.upsertBatch(seed, opPath, 0L, "key",
      initialPartitions = 4)
    // the merge batch: 20 matched keys updated, 10 new keys inserted
    val batch = ((81L to 100L) ++ (101L to 110L)).map(k => (k, 9L))
      .toDF("key", "v")
    batch.createOrReplaceTempView("merge_source")
    val out = GraftCatalog.call(spark,
      s"CALL graft_store_upsert('versioned', '$sqlPath', 'key', " +
        "'merge_source', '1')").collect()
    assert(!out.head.isNullAt(1) && out.head.getLong(1) == 2L)
    // PARITY: the SQL statement and the operator path agree bit-for-bit
    graft.streaming.UpsertSink.upsertBatch(batch, opPath, 1L, "key")
    def snap(p: String) = graft.streaming.UpsertSink.readStore(spark, p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(snap(sqlPath) == snap(opPath),
      "SQL upsert diverged from the operator path")
    assert(snap(sqlPath).toMap.get(90L).contains(9L))
    assert(snap(sqlPath).size == 110)
    // EXACTLY-ONCE: re-CALLing the committed batch id returns a NULL
    // version and commits nothing
    val replay = GraftCatalog.call(spark,
      s"CALL graft_store_upsert('versioned', '$sqlPath', 'key', " +
        "'merge_source', '1')").collect()
    assert(replay.head.isNullAt(1), "replayed batch id committed again")
    assert(sources.VersionedStore.versions(spark, sqlPath) == Seq(1, 2))
  }

  test("TIMESTAMP AS OF surfaced to SQL: per-commit as-of views match readAsOf") {
    val views = GraftCatalog.call(spark,
      s"CALL graft_store_build('versioned_ts', '$sf')").collect()
    assert(views.length == 2, "one as-of view per committed version")
    val path = graft.sources.VersionedStore.tsStore(spark, sf)
    val times = graft.sources.VersionedStore.commitTimes(spark, path)
    times.foreach { case (v, ts) =>
      val viaSql = spark.sql(
        s"SELECT count(*) FROM graft_orders_asof_$ts").head().getLong(0)
      assert(viaSql == graft.sources.VersionedStore
        .readVersion(spark, path, v).count(),
        s"as-of view for commit $v diverges from its version read")
    }
    val dropped = GraftCatalog.call(spark,
      "CALL graft_store_drop('versioned_ts')").collect()
    assert(dropped.length == 2)
  }

  test("malformed CALL statements are loud") {
    intercept[IllegalArgumentException] {
      GraftCatalog.call(spark, "CALL graft_store_build('nope', '/tmp/x')")
    }
    intercept[IllegalArgumentException] {
      GraftCatalog.call(spark, "SELECT 1")
    }
    intercept[IllegalArgumentException] {
      GraftCatalog.call(spark,
        "CALL graft_store_optimize('zorder', '/tmp/x', 'k')")
    }
    intercept[IllegalArgumentException] {
      GraftCatalog.call(spark,
        "CALL graft_store_purge('versioned', '/tmp/x', 'k', '1,x')")
    }
  }

  test("CALL graft_store_refresh_mv follows all four commit kinds with full-recompute parity") {
    // round-14 verdict #6: the q110–q110d ladder behind one verb — the
    // maintained aggregate must equal a from-scratch recompute after an
    // APPEND, a COW UPDATE (upsert), a COW DELETE, a DELETION-VECTOR
    // commit, and a compaction, refreshed incrementally each time.
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_mv_").toString + "/store"
    def rows(ks: Seq[Long], v: Long) =
      ks.map(k => (k, k % 7, v)).toDF("k", "g", "v")
    def refresh(): Unit = {
      val out = GraftCatalog.call(spark,
        s"CALL graft_store_refresh_mv('versioned', '$path', 'g', 'v', 'k')")
        .collect()
      assert(out.head.getString(0) == path)
    }
    def assertParity(label: String): Unit = {
      val tip = sources.VersionedStore.versions(spark, path).last
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val full = sources.VersionedStore.readVersion(spark, path, tip)
        .groupBy(col("g"))
        .agg(count(lit(1)).as("cnt"), sum(col("v")).as("total"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      val mv = sources.VersionedStore.readMv(spark, path)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      assert(mv == full, s"$label: maintained MV diverged from recompute")
      // the SQL view serves the same content
      val viaSql = spark.sql("SELECT g, cnt, total FROM graft_store_mv")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      assert(viaSql == mv, s"$label: graft_store_mv view diverged")
    }
    // v1 + CREATE
    graft.streaming.VersionedCommitSink.appendBatch(
      rows(1L to 400L, 10L), path, 0L)
    refresh(); assertParity("create")
    // APPEND (v2)
    graft.streaming.VersionedCommitSink.appendBatch(
      rows(401L to 600L, 20L), path, 1L)
    refresh(); assertParity("append")
    // COW UPDATE (v3): 50 matched keys re-valued
    graft.streaming.UpsertSink.upsertBatch(
      rows(101L to 150L, 99L), path, 2L, "k")
    refresh(); assertParity("cow-update")
    // COW DELETE (v4)
    sources.VersionedStore.deleteCommit(spark, path,
      (201L to 260L).toDF("k"), "k")
    refresh(); assertParity("cow-delete")
    // DELETION VECTOR (v5): scattered keys, below the auto-fold fraction
    sources.VersionedStore.deleteCommitDv(spark, path,
      (1L to 600L by 37).toDF("k"), "k")
    refresh(); assertParity("dv")
    // COMPACTION (v6): logical content unchanged — the MV must not move
    val before = sources.VersionedStore.readMv(spark, path)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    GraftCatalog.call(spark,
      s"CALL graft_store_optimize('versioned', '$path', 'k')")
    refresh(); assertParity("compaction")
    val after = sources.VersionedStore.readMv(spark, path)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(after == before, "a content-preserving compaction moved the MV")
    // idempotent when current: a second refresh is a no-op
    val out2 = GraftCatalog.call(spark,
      s"CALL graft_store_refresh_mv('versioned', '$path', 'g', 'v', 'k')")
      .collect()
    assert(out2.head.getInt(1) == out2.head.getInt(2),
      "an up-to-date store reported a refresh range")
    assertParity("idempotent")
  }

  test("CALL graft_store_changes returns the table_changes feed and " +
      "registers it for follow-on SQL") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_cdf_").toString + "/store"
    graft.streaming.VersionedCommitSink.appendBatch(
      (1L to 300L).map(k => (k, k * 2)).toDF("k", "v"), path, 0L)
    graft.streaming.VersionedCommitSink.appendBatch(
      (301L to 320L).map(k => (k, k * 2)).toDF("k", "v"), path, 1L)
    GraftCatalog.call(spark,
      s"CALL graft_store_purge('versioned', '$path', 'k', '10,20,310', 'dv')")
    val got = GraftCatalog.call(spark,
      s"CALL graft_store_changes('versioned', '$path', '1', '3', 'k')")
    // parity with the operator path
    val want = sources.ChangeFeed.changes(spark, path, 1, 3, "k")
    assert(got.collect().map(_.toSeq).toSet ==
      want.collect().map(_.toSeq).toSet)
    // the registered view answers plain SQL over the feed
    val byType = spark.sql(
      """SELECT _change_type, count(*) AS n FROM graft_store_changes
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .as[(String, Long)].collect().toMap
    assert(byType == Map("insert" -> 20L, "delete" -> 3L))
    // non-int version literal is loud
    val ex = intercept[IllegalArgumentException] {
      GraftCatalog.call(spark,
        s"CALL graft_store_changes('versioned', '$path', 'one', '3', 'k')")
    }
    assert(ex.getMessage.contains("int literal"))
  }

  test("CALL graft_store_export is the purge verb's subject-access twin") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_sar_").toString + "/store"
    graft.streaming.VersionedCommitSink.appendBatch(
      (1L to 300L).map(k => (k, k * 2)).toDF("k", "v"), path, 0L)
    // export BEFORE the purge (the compliance order), from version 1
    val out = GraftCatalog.call(spark,
      s"CALL graft_store_export('versioned', '$path', '1', 'k', '10, 20')")
    assert(out.select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((10L, 20L), (20L, 40L)))
    // the registered view answers plain SQL
    GraftCatalog.call(spark,
      s"CALL graft_store_purge('versioned', '$path', 'k', '10,20', 'dv')")
    assert(spark.sql(
      "SELECT count(*) FROM graft_store_export").as[Long].head() == 2L)
    // post-purge, the same export at the tip returns nothing
    val tip = sources.VersionedStore.versions(spark, path).last
    val after = GraftCatalog.call(spark,
      s"CALL graft_store_export('versioned', '$path', '$tip', 'k', '10,20')")
    assert(after.count() == 0L)
  }

  test("CALL graft_store_select's pruned view opens exactly the q121 " +
      "file subset and matches the unpruned SQL read") {
    import spark.implicits._
    val path = sources.ColStats.stattedStore(spark, sf)
    GraftCatalog.call(spark,
      s"CALL graft_store_select('versioned', '$path', '2', " +
        "'o_orderdate', '1997-01-01', '1998-01-01')")
    val view = spark.table("graft_store_select")
    val f1 = sources.VersionedStore.versionFiles(spark, path, 1).toSet
    val f2 = sources.VersionedStore.versionFiles(spark, path, 2).toSet
    val opened = view.inputFiles.map(sources.VersionedStore.canon).toSet
    assert(opened == f2 -- f1,
      s"SQL range view opened ${opened.size} files, " +
        s"want exactly the v2 delta (${(f2 -- f1).size})")
    // the baked row filter makes the view's rows the range's rows
    val want = spark.read.parquet(f2.toSeq: _*)
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01")))
      .agg(count(lit(1)), sum(col("amount_c"))).as[(Long, Long)].head()
    val got = spark.sql(
      "SELECT count(*), sum(amount_c) FROM graft_store_select")
      .as[(Long, Long)].head()
    assert(got == want, "pruned SQL view changed the range's answer")
  }

  test("the graft_changes and graft_select TVFs serve the feed and the " +
      "pruned range inline in a FROM clause") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_tvf_").toString + "/store"
    graft.streaming.VersionedCommitSink.appendBatch(
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "v"), path, 0L)
    GraftCatalog.call(spark,
      s"CALL graft_store_purge('versioned', '$path', 'k', '5,6,7')")
    val vs = sources.VersionedStore.versions(spark, path)
    // the feed as a genuine table-valued function: FROM + WHERE + agg
    val del = spark.sql(
      s"""SELECT count(*) AS n, sum(v) AS sv
         |FROM graft_changes('$path', ${vs.head}, ${vs.last}, 'k')
         |WHERE _change_type = 'delete'""".stripMargin)
      .as[(Long, Long)].head()
    assert(del == ((3L, (5L + 6L + 7L) * 2)), s"TVF feed diverged: $del")
    // joins work inline too
    Seq((5L, "a"), (99L, "z")).toDF("k", "tag")
      .createOrReplaceTempView("graft_tvf_dim")
    val j = spark.sql(
      s"""SELECT d.tag FROM graft_changes('$path', ${vs.head}, ${vs.last}, 'k') ch
         |JOIN graft_tvf_dim d ON ch.k = d.k
         |WHERE ch._change_type = 'delete'""".stripMargin)
      .as[String].collect().toSeq
    assert(j == Seq("a"))
    // graft_select: the q121 store's date range, inline — opens exactly
    // the operator path's file subset
    val sp = sources.ColStats.stattedStore(spark, sf)
    val sel = spark.sql(
      s"""SELECT count(*) AS n FROM
         |graft_select('$sp', 2, 'o_orderdate', '1997-01-01', '1998-01-01')"""
        .stripMargin)
    val f1 = sources.VersionedStore.versionFiles(spark, sp, 1).toSet
    val f2 = sources.VersionedStore.versionFiles(spark, sp, 2).toSet
    assert(sel.inputFiles.map(sources.VersionedStore.canon).toSet == f2 -- f1,
      "TVF range read opened more than the stats-pruned subset")
    val want = spark.read.parquet(f2.toSeq: _*)
      .filter(col("o_orderdate") >= to_timestamp(lit("1997-01-01")) &&
        col("o_orderdate") < to_timestamp(lit("1998-01-01"))).count()
    assert(sel.as[Long].head() == want)
  }

  test("graft_export TVF and CALL export parse keys in the store's own " +
      "key type — string subject ids included") {
    import spark.implicits._
    // string-keyed store: the round-16 erasure-batch reality
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_exps_").toString + "/store"
    sources.VersionedStore.appendCommit(spark, path,
      (1 to 50).map(i => (f"user-$i%03d", i.toLong)).toDF("email", "uid"),
      "email", 2)
    val tvf = spark.sql(
      s"""SELECT uid FROM graft_export('$path', 1, 'email',
         |'user-007, user-033') ORDER BY uid""".stripMargin)
      .as[Long].collect().toSeq
    assert(tvf == Seq(7L, 33L), s"string-keyed TVF export diverged: $tvf")
    val call = GraftCatalog.call(spark,
      s"CALL graft_store_export('versioned', '$path', '1', 'email', " +
        "'user-007,user-033')")
    assert(call.select("uid").as[Long].collect().toSeq.sorted == Seq(7L, 33L))
    // a long-keyed store still rejects non-numeric items loudly
    val lpath = java.nio.file.Files
      .createTempDirectory("graft_cat_expl_").toString + "/store"
    sources.VersionedStore.appendCommit(spark, lpath,
      (1L to 20L).map(k => (k, k * 2)).toDF("k", "v"), "k", 1)
    val ex = intercept[IllegalArgumentException] {
      GraftCatalog.call(spark,
        s"CALL graft_store_export('versioned', '$lpath', '1', 'k', 'abc')")
    }
    assert(ex.getMessage.contains("numeric"))
  }

  test("CALL graft_store_changes registers a relation plain SQL can " +
      "join and filter inline") {
    import spark.implicits._
    val path = java.nio.file.Files
      .createTempDirectory("graft_cat_chj_").toString + "/store"
    graft.streaming.VersionedCommitSink.appendBatch(
      (1L to 100L).map(k => (k, k * 2)).toDF("k", "v"), path, 0L)
    GraftCatalog.call(spark,
      s"CALL graft_store_purge('versioned', '$path', 'k', '5,6,7')")
    val vs = sources.VersionedStore.versions(spark, path)
    GraftCatalog.call(spark,
      s"CALL graft_store_changes('versioned', '$path', " +
        s"'${vs.head}', '${vs.last}', 'k')")
    Seq((5L, "a"), (6L, "b"), (99L, "z")).toDF("k", "tag")
      .createOrReplaceTempView("graft_chj_dim")
    val got = spark.sql(
      """SELECT d.tag, count(*) AS n FROM graft_store_changes ch
        |JOIN graft_chj_dim d ON ch.k = d.k
        |WHERE ch._change_type = 'delete'
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 1L), ("b", 1L)),
      s"feed-consuming SQL join diverged: $got")
  }

  test("CALL graft_store_merge runs the full MERGE statement from SQL") {
    import spark.implicits._
    val path = Engine.storePath("graft-catalog-merge",
      "/root/testdata/sf0.001")
    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(path), true)
    sources.VersionedStore.appendCommit(spark,
      path, Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), "k", 1)
    Seq((2L, 200L), (9L, 900L)).toDF("k", "v")
      .createOrReplaceTempView("graft_merge_src")
    val r = GraftCatalog.call(spark,
      s"CALL graft_store_merge('versioned', '$path', 'graft_merge_src', " +
        "'k', 'update', 'insert', '77')")
    assert(r.columns.toSeq == Seq("path", "committed_version"))
    assert(r.head().getLong(1) == 2L)
    val tip = sources.VersionedStore.readVersion(spark, path, 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(tip == Map(1L -> 10L, 2L -> 200L, 3L -> 30L, 9L -> 900L))
    // replayed batch id: NULL version, nothing commits
    assert(GraftCatalog.call(spark,
      s"CALL graft_store_merge('versioned', '$path', 'graft_merge_src', " +
        "'k', 'update', 'insert', '77')").head().isNullAt(1))
    // conditional delete: only the qualifying matched row leaves
    Seq((1L, 0L), (3L, 5L)).toDF("k", "v")
      .createOrReplaceTempView("graft_merge_del")
    GraftCatalog.call(spark,
      s"CALL graft_store_merge('versioned', '$path', 'graft_merge_del', " +
        "'k', 'delete', 'ignore', 'v > 0', '78')")
    assert(sources.VersionedStore.readVersion(spark, path, 3)
      .select("k").as[Long].collect().toSet == Set(1L, 2L, 9L))
  }
}
