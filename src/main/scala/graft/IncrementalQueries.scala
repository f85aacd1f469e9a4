package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end incremental changeset replay (reference
  * `test_updates.py:41-310`): classify a changeset into creates /
  * updates / deletes, diff each update's referenced-id set old-vs-new,
  * treat removed references and explicit deletes as delete candidates
  * decided by surviving inbound references (the reference's
  * "preventing records subset of the deletions" single-pass rule), and
  * rebuild ONLY the affected records — standing rows are kept verbatim,
  * inbound counts are delta-propagated from the changed edges alone.
  *
  * The DuckDB oracle computes the FULL rebuild from scratch, so the
  * driver's hash comparison IS the assertion that the affected-only
  * incremental path equals a complete rebuild (the reference test's
  * closing invariant).
  *
  * Scale shape: the snapshot is scanned once (reading the standing
  * state), the delta aggregation touches only changed edges, and the
  * patch is a left_anti + union on the affected-id set — at 100 TB the
  * recompute cost is proportional to the changeset, not the corpus.
  */
object IncrementalQueries extends QueryGroup {

  /** Fixture semantics (deterministic from customer keys; replayed
    * exactly by the oracle):
    *   - snapshot record ck: name nm(ck%40), refs ck→(7ck+3)%100 and,
    *     for ck%3==0, ck→(11ck+5)%100; reference-only when ck%4==2;
    *   - changeset: deletes ck%17==0; updates ck%5==0 (new name, refs
    *     replaced by ck→(7ck+4)%100 — one removed, one added); creates
    *     100000+ck for ck%13==0 with (100000+ck)→(3ck)%100;
    *   - final state: explicit deletes with surviving inbound refs stay
    *     as stubs, reference-only records with zero inbound refs drop
    *     (single-pass decision over the survivors' edge set). */
  def changesetReplay(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def isDel(c: Column) = c % 17 === 0
    def isUpd(c: Column) = c % 5 === 0 && c % 17 =!= 0
    def isRefOnly(c: Column) = c % 4 === 2
    val ids = Tables.load(spark, dir, "customer")
      .select(col("c_custkey").cast("long").as("id"))
      .persist() // snapshot scan is reused by edges / standing / deltas

    // snapshot edge set and standing inbound counts
    val e0 = ids.select($"id".as("src"), (($"id" * 7 + 3) % 100).as("dst"))
      .union(ids.filter($"id" % 3 === 0)
        .select($"id".as("src"), (($"id" * 11 + 5) % 100).as("dst")))
    val inbound0 = e0.groupBy($"dst").agg(count(lit(1)).as("n0"))
      .withColumnRenamed("dst", "id")

    // the standing output of the previous full run (snapshot transform)
    val standing = ids.join(inbound0, Seq("id"), "left")
      .select($"id", concat(lit("nm"), $"id" % 40).as("name"),
        coalesce($"n0", lit(0L)).as("n_in"))
      .filter(!(isRefOnly($"id") && $"n_in" === 0))

    // referenced-id diff: edges leaving the graph (updates drop their old
    // refs, deletes drop everything) and edges entering it
    val touched = ids.filter(isUpd($"id") || isDel($"id"))
    val removed = touched.select($"id".as("src"), (($"id" * 7 + 3) % 100).as("dst"))
      .union(touched.filter($"id" % 3 === 0)
        .select($"id".as("src"), (($"id" * 11 + 5) % 100).as("dst")))
    val added = ids.filter(isUpd($"id"))
      .select($"id".as("src"), (($"id" * 7 + 4) % 100).as("dst"))
      .union(ids.filter($"id" % 13 === 0)
        .select(($"id" + 100000L).as("src"), (($"id" * 3) % 100).as("dst")))

    // affected = touched records + creates + endpoints of changed edges
    val affected = touched.select($"id")
      .union(ids.filter($"id" % 13 === 0).select(($"id" + 100000L).as("id")))
      .union(removed.select($"dst".as("id")))
      .union(added.select($"dst".as("id")))
      .distinct()

    // delta-propagated inbound: only the changed edges are aggregated
    val deltaIn = added.select($"dst", lit(1L).as("d"))
      .union(removed.select($"dst", lit(-1L).as("d")))
      .groupBy($"dst").agg(sum($"d").as("dn"))
      .withColumnRenamed("dst", "id")

    // recompute ONLY the affected snapshot records under the new state
    val affectedRows = ids.join(affected, Seq("id"), "left_semi")
      .join(inbound0, Seq("id"), "left")
      .join(deltaIn, Seq("id"), "left")
      .select($"id",
        when(isDel($"id"), concat(lit("stub"), $"id"))
          .when(isUpd($"id"), concat(lit("upd"), $"id"))
          .otherwise(concat(lit("nm"), $"id" % 40)).as("name"),
        (coalesce($"n0", lit(0L)) + coalesce($"dn", lit(0L))).as("n_in"))
      .filter(!(isDel($"id") && $"n_in" === 0) &&
        !(!isDel($"id") && !isUpd($"id") && isRefOnly($"id") && $"n_in" === 0))
    val creates = ids.filter($"id" % 13 === 0)
      .select(($"id" + 100000L).as("id"), concat(lit("new"), $"id").as("name"),
        lit(0L).as("n_in")) // creates are never referenced (targets < 100)

    standing.join(affected, Seq("id"), "left_anti")
      .union(affectedRows)
      .union(creates)
  }

  /** The oracle is the FULL rebuild: survivors' edges from scratch,
    * inbound counts over the whole graph, every rule re-evaluated. */
  private val changesetReplayOracle: String =
    """WITH ids AS (SELECT CAST(c_custkey AS BIGINT) AS id FROM customer),
      |e AS (
      |  SELECT id AS src, (id*7+3) % 100 AS dst FROM ids
      |    WHERE id % 17 <> 0 AND id % 5 <> 0
      |  UNION ALL
      |  SELECT id, (id*11+5) % 100 FROM ids
      |    WHERE id % 17 <> 0 AND id % 5 <> 0 AND id % 3 = 0
      |  UNION ALL
      |  SELECT id, (id*7+4) % 100 FROM ids WHERE id % 17 <> 0 AND id % 5 = 0
      |  UNION ALL
      |  SELECT 100000 + id, (id*3) % 100 FROM ids WHERE id % 13 = 0),
      |inb AS (SELECT dst AS id, COUNT(*) AS n_in FROM e GROUP BY dst),
      |old AS (
      |  SELECT i.id,
      |    CASE WHEN i.id % 17 = 0 THEN 'stub' || i.id
      |         WHEN i.id % 5 = 0 THEN 'upd' || i.id
      |         ELSE 'nm' || (i.id % 40) END AS name,
      |    COALESCE(n.n_in, 0) AS n_in
      |  FROM ids i LEFT JOIN inb n ON n.id = i.id)
      |SELECT id, name, n_in FROM old
      |WHERE NOT (id % 17 = 0 AND n_in = 0)
      |  AND NOT (id % 17 <> 0 AND id % 5 <> 0 AND id % 4 = 2 AND n_in = 0)
      |UNION ALL
      |SELECT 100000 + id AS id, 'new' || id AS name, CAST(0 AS BIGINT) AS n_in
      |FROM ids WHERE id % 13 = 0""".stripMargin

  /** SCD Type-2 history build: each user's event stream versions a
    * "current event_type" attribute; consecutive repeats collapse (a
    * version row only on CHANGE), each version carries
    * [valid_from, valid_to) in epoch micros with an open-ended
    * sentinel (Long.MaxValue) and an is_current flag — the standard
    * slowly-changing-dimension shape an incremental warehouse keeps
    * for every mutable dimension.
    *
    * Scale: two window passes partitioned by user_id (change
    * detection via lag, interval close via lead) — shuffles once on
    * the key, no global window, no self-join. Ties at the same
    * microsecond order by event_id, so versioning is deterministic. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val OpenEnd = Long.MaxValue
    val ev = Tables.load(spark, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("us"),
        $"event_type")
    val w = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
    val changes = ev
      .withColumn("prev", lag($"event_type", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"event_type")
    val w2 = Window.partitionBy($"user_id").orderBy($"us".asc, $"event_id".asc)
    changes
      .withColumn("next_us", lead($"us", 1).over(w2))
      .select($"user_id", $"event_type", $"us".as("valid_from"),
        coalesce($"next_us", lit(OpenEnd)).as("valid_to"),
        $"next_us".isNull.cast("long").as("is_current"))
  }
  private val scd2HistoryOracle: String =
    s"""WITH ev AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type FROM events),
       |ch AS (SELECT *, LAG(event_type) OVER
       |    (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM ev),
       |c2 AS (SELECT user_id, us, event_id, event_type FROM ch
       |  WHERE prev IS NULL OR prev <> event_type),
       |v AS (SELECT user_id, event_type, us,
       |    LEAD(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS next_us
       |  FROM c2)
       |SELECT user_id, event_type, us AS valid_from,
       |  COALESCE(next_us, ${Long.MaxValue}) AS valid_to,
       |  CAST(next_us IS NULL AS BIGINT) AS is_current
       |FROM v""".stripMargin

  /** Snapshot diff — the change-data-feed primitive: classify every
    * key across two table versions as added / removed / changed
    * (unchanged rows are omitted; they are the bulk and carry no
    * information). Here version B is a deterministic mutation of the
    * orders snapshot (deletes %13, price bumps %7, new keys %11 at
    * +1e6) so the oracle can rebuild both sides. One full-outer join
    * on the key — at 100 TB both sides are parquet snapshots
    * partitioned the same way, so the join co-locates. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val a = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".cast("long").as("k"),
        RelationalQueries.cents($"o_totalprice").as("va"))
    val base = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".cast("long").as("k"),
        RelationalQueries.cents($"o_totalprice").as("v"))
    val b = base.filter($"k" % 13 =!= 0)
      .select($"k",
        when($"k" % 7 === 0, $"v" + 500L).otherwise($"v").as("vb"))
      .unionByName(base.filter($"k" % 11 === 0)
        .select(($"k" + 1000000L).as("k"), $"v".as("vb")))
    a.join(b, Seq("k"), "full_outer")
      .select($"k",
        when($"va".isNull, "added")
          .when($"vb".isNull, "removed")
          .when($"va" =!= $"vb", "changed").as("change"),
        coalesce($"va", lit(-1L)).as("old_cents"),
        coalesce($"vb", lit(-1L)).as("new_cents"))
      .filter($"change".isNotNull)
  }
  private val snapshotDiffOracle: String =
    """WITH a AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS va FROM orders),
      |base AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
      |    CAST(ROUND(o_totalprice*100) AS BIGINT) AS v FROM orders),
      |b AS (
      |  SELECT k, CASE WHEN k % 7 = 0 THEN v + 500 ELSE v END AS vb
      |  FROM base WHERE k % 13 <> 0
      |  UNION ALL
      |  SELECT k + 1000000, v FROM base WHERE k % 11 = 0),
      |d AS (SELECT COALESCE(a.k, b.k) AS k, va, vb
      |  FROM a FULL OUTER JOIN b ON a.k = b.k)
      |SELECT k,
      |  CASE WHEN va IS NULL THEN 'added'
      |       WHEN vb IS NULL THEN 'removed'
      |       WHEN va <> vb THEN 'changed' END AS change,
      |  COALESCE(va, -1) AS old_cents, COALESCE(vb, -1) AS new_cents
      |FROM d
      |WHERE (va IS NULL OR vb IS NULL OR va <> vb)""".stripMargin

  /** U4: merge-on-read upsert log + compaction decision — the lakehouse
    * ingest shape (Hudi MOR / Delta DV): base files stay immutable,
    * upserts and deletes land in a per-key versioned log, reads merge
    * "latest log entry wins, tombstone removes" (one max_by aggregate
    * per key — partitioned, no driver state), and each file group's
    * log-to-base ratio drives the rewrite decision. The fixture derives
    * three log generations from orders (upsert v1 on key%3, upsert v2
    * on key%7, tombstone v3 on key%11 — keys can carry all three, so
    * latest-wins precedence is genuinely exercised); the oracle replays
    * precedence as CASE logic and live sums pin value-level
    * correctness, not just counts. Scale: the log is delta-sized; the
    * merge joins base←latest-log on the key, and untouched file groups
    * cost one counting aggregate — never a rewrite. */
  def morCompact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import TextQueries.intDiv
    val base = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".cast("long").as("k"),
        ($"o_orderkey" % 16).cast("long").as("grp"),
        RelationalQueries.cents($"o_totalprice").as("pc"))
      .persist() // log derivation + merge + group stats all read this
    val log =
      base.filter($"k" % 3 === 0)
        .select($"k", lit(1L).as("ver"), lit("u").as("op"),
          ($"pc" + 100000L).as("val"))
      .union(base.filter($"k" % 7 === 0)
        .select($"k", lit(2L).as("ver"), lit("u").as("op"),
          ($"pc" * 2L).as("val")))
      .union(base.filter($"k" % 11 === 0)
        .select($"k", lit(3L).as("ver"), lit("d").as("op"),
          lit(null).cast("long").as("val")))
      // generation 4 re-upserts EVERY key of file groups 0-3 — the
      // hot-partition pattern; it also resurrects their tombstoned keys
      // (upsert-after-delete), which latest-wins must honor
      .union(base.filter($"grp" < 4)
        .select($"k", lit(4L).as("ver"), lit("u").as("op"),
          ($"pc" + 7L).as("val")))
    val latest = log.groupBy($"k")
      .agg(max_by(struct($"op", $"val"), $"ver").as("last"),
        count(lit(1)).as("n_log_k"))
    val merged = base.join(latest, Seq("k"), "left")
      .select($"k", $"grp", coalesce($"n_log_k", lit(0L)).as("n_log_k"),
        when($"last".isNull, $"pc")                 // untouched key
          .when($"last.op" === "d", lit(null).cast("long")) // tombstone
          .otherwise($"last.val").as("live_pc"))    // latest upsert
    merged.groupBy($"grp")
      .agg(count(lit(1)).as("n_base"),
        sum($"n_log_k").as("n_log"),
        count($"live_pc").as("n_live"),
        sum(coalesce($"live_pc", lit(0L))).cast("long").as("live_cents"))
      .select($"grp", $"n_base", $"n_log", $"n_live", $"live_cents",
        intDiv($"n_log" * 1000L, $"n_base").as("log_ratio_milli"),
        ($"n_log" * 1000L >= $"n_base" * 1000L).as("needs_compact"))
  }
  private val morCompactOracle: String =
    """WITH b AS (
      |  SELECT CAST(o_orderkey AS BIGINT) AS k,
      |    CAST(o_orderkey % 16 AS BIGINT) AS grp,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders),
      |eff AS (
      |  SELECT k, grp,
      |    CASE WHEN grp < 4 THEN pc + 7
      |         WHEN k % 11 = 0 THEN NULL
      |         WHEN k % 7 = 0 THEN pc * 2
      |         WHEN k % 3 = 0 THEN pc + 100000
      |         ELSE pc END AS live_pc,
      |    (CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN k % 7 = 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN k % 11 = 0 THEN 1 ELSE 0 END)
      |      + (CASE WHEN grp < 4 THEN 1 ELSE 0 END) AS n_log_k
      |  FROM b)
      |SELECT grp, COUNT(*) AS n_base,
      |  CAST(SUM(n_log_k) AS BIGINT) AS n_log,
      |  COUNT(live_pc) AS n_live,
      |  CAST(SUM(COALESCE(live_pc, 0)) AS BIGINT) AS live_cents,
      |  CAST(SUM(n_log_k) * 1000 // COUNT(*) AS BIGINT) AS log_ratio_milli,
      |  SUM(n_log_k) * 1000 >= COUNT(*) * 1000 AS needs_compact
      |FROM eff GROUP BY 1""".stripMargin

  /** U5: the WRITE side of the table format — optimistic-concurrency
    * manifest commit (sources/TableCommit; s22 proves the read side).
    * A deterministic two-writer race driven through the REAL retry
    * loop: writer A and writer B both observe v1; A publishes v2 in
    * the window between B's manifest read and B's check-and-put (the
    * race is injected inside B's `apply`, so B's first CREATE_NEW
    * genuinely loses and the loop genuinely re-reads and re-applies);
    * B's retry lands v3. The output reads every version through its
    * manifest and proves the final state equals SERIALIZED application
    * (v1 ∪ A's files ∪ B's files — the oracle replays all three
    * snapshots from the orders thirds), with B's attempt count = 2
    * pinning that a conflict actually happened and was retried, and
    * data-file counts pinning that losing a race never duplicates or
    * drops a data file. */
  /** The committed-table fixture is built ONCE per (session, sf dir)
    * ([[Fixtures.once]]): re-invocations (Bench's best-of loop, the
    * stress sweep's repeat passes) must not each write a fresh full
    * orders copy into tmpdir; they re-read the already-raced table,
    * whose manifests are immutable by construction. */
  def optimisticCommit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.TableCommit
    val (table, bAttempts) =
      Fixtures.once(spark, "commit", dir)(buildCommitFixture(spark, dir))
    def snap(v: Long) = {
      val man = TableCommit.Manifest(v,
        java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get(table, f"v$v%012d.manifest"))
          .toArray(Array.empty[String]).toSeq.filter(_.nonEmpty))
      spark.read.parquet(man.files: _*)
        .agg(count(lit(1)).as("n_rows"),
          sum($"cents").cast("long").as("cents_sum"))
        .select(lit(s"v$v").as("snapshot"), $"n_rows", $"cents_sum",
          lit(man.files.size.toLong).as("n_files"))
    }
    snap(1L).union(snap(2L)).union(snap(3L))
      .withColumn("b_attempts", lit(bAttempts.toLong))
  }

  /** Runs the deterministic two-writer race once; returns the table
    * dir and writer B's attempt count. */
  private def buildCommitFixture(spark: SparkSession,
      dir: String): (String, Int) = {
    import spark.implicits._
    import graft.sources.TableCommit
    val table = Fixtures.tempDir("graft_commit_").getPath
    val o = Tables.load(spark, dir, "orders")
      .select($"o_orderkey".cast("long").as("k"),
        round($"o_totalprice" * 100).cast("long").as("cents"))
    def writeSlice(name: String, rem: Int): Seq[String] = {
      val p = s"$table/data/$name"
      // one file per slice: the n_files column pins set relations
      // (v2 = v1 + A, v3 = v2 + B) deterministically at every sf
      o.filter($"k" % 3 === rem).coalesce(1).write.mode("overwrite").parquet(p)
      new java.io.File(p).listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(_.getAbsolutePath).toSeq.sorted
    }
    val baseFiles = writeSlice("base", 0)
    val aFiles = writeSlice("a", 1)
    val bFiles = writeSlice("b", 2)
    val (m1, baseAttempts) =
      TableCommit.commit(table)(m => m.files ++ baseFiles)
    require(m1.version == 1L && baseAttempts == 1, "base commit must be v1")
    // writer B's commit, with writer A winning the race inside the
    // window between B's read and B's put
    var bApplyCalls = 0
    val (m3, bAttempts) = TableCommit.commit(table) { m =>
      bApplyCalls += 1
      if (bApplyCalls == 1)
        require(TableCommit.tryCommit(table, m, m.files ++ aFiles),
          "writer A must win the injected race")
      m.files ++ bFiles
    }
    require(m3.version == 3L, s"B's retry must land v3, got ${m3.version}")
    (table, bAttempts)
  }
  private val optimisticCommitOracle: String = {
    // data-file counts: each slice writes with the session's shuffle
    // parallelism but collapses empty parts; rather than replaying
    // Spark's file layout, pin the SET relations — v2 adds exactly A's
    // files to v1, v3 adds exactly B's to v2 — via counts derived from
    // the deterministic layout below
    """WITH t AS (
      |  SELECT CAST(o_orderkey % 3 AS BIGINT) AS r,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |f AS (SELECT r, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS s
      |  FROM t GROUP BY r)
      |SELECT 'v1' AS snapshot, n AS n_rows, s AS cents_sum,
      |  CAST(1 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS b_attempts
      |FROM f WHERE r = 0
      |UNION ALL
      |SELECT 'v2', (SELECT CAST(SUM(n) AS BIGINT) FROM f WHERE r <= 1),
      |  (SELECT CAST(SUM(s) AS BIGINT) FROM f WHERE r <= 1), 2, 2
      |UNION ALL
      |SELECT 'v3', (SELECT CAST(SUM(n) AS BIGINT) FROM f),
      |  (SELECT CAST(SUM(s) AS BIGINT) FROM f), 3, 2""".stripMargin
  }

  override def register(): Unit = {
    Queries.register(QueryDef("u4_mor_compact", morCompact,
      Some(morCompactOracle), bench = true))
    Queries.register(QueryDef("u5_optimistic_commit", optimisticCommit,
      Some(optimisticCommitOracle)))
    Queries.register(QueryDef("u1_changeset_replay", changesetReplay,
      Some(changesetReplayOracle)))
    Queries.register(QueryDef("u2_scd2_history", scd2History,
      Some(scd2HistoryOracle)))
    Queries.register(QueryDef("u3_snapshot_diff", snapshotDiff,
      Some(snapshotDiffOracle)))
  }
}
