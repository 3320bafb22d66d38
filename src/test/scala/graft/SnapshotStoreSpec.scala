package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.SnapshotStore

/** The snapshot-table commit protocol: append/overwrite log replay,
  * time-travel reads, optimistic-concurrency CAS on the version slot,
  * and vacuum semantics (unreferenced groups die, history survives,
  * vacuumed versions fail loudly).
  */
class SnapshotStoreSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-snapshot-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def freshRoot(): String =
    Files.createTempDirectory("graft-snap-spec").toString

  private def df(ids: Long*): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, s"r$i")).toDF("id", "tag")
  }

  private def idSet(d: DataFrame): Set[Long] =
    d.select("id").collect().map(_.getLong(0)).toSet

  test("append accumulates, overwrite replaces, time travel replays " +
    "the log prefix") {
    val root = freshRoot()
    assert(SnapshotStore.append(df(1, 2), root) === 0)
    assert(SnapshotStore.append(df(3), root) === 1)
    assert(SnapshotStore.overwrite(df(9), root) === 2)
    assert(SnapshotStore.append(df(10), root) === 3)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(9L, 10L))
    assert(idSet(SnapshotStore.read(spark, root, Some(0))) === Set(1L, 2L))
    assert(idSet(SnapshotStore.read(spark, root, Some(1))) ===
      Set(1L, 2L, 3L))
    assert(idSet(SnapshotStore.read(spark, root, Some(2))) === Set(9L))
    assert(SnapshotStore.history(root) === Seq(
      (0, "append"), (1, "append"), (2, "overwrite"), (3, "append")))
  }

  test("reading an empty table or a pre-first-commit version fails " +
    "with an explicit error") {
    val root = freshRoot()
    intercept[IllegalArgumentException](SnapshotStore.read(spark, root))
    SnapshotStore.append(df(1), root)
    // version numbers below the first commit have no live set either
    intercept[IllegalArgumentException](
      SnapshotStore.read(spark, root, Some(-1)))
  }

  test("version-slot CAS: a committed version cannot be overwritten, " +
    "and a racing writer lands on the next slot") {
    val root = freshRoot()
    SnapshotStore.append(df(1), root)
    // simulate a rival writer that claimed version 1 out from under us:
    // plant its commit record directly
    val rival = Paths.get(root, "_commits", f"${1}%08d.json")
    Files.writeString(rival,
      """{"version":1,"action":"append","adds":[],"removes":[]}""")
    val before = Files.readString(rival)
    // our append must NOT clobber slot 1 — it retries and wins slot 2
    assert(SnapshotStore.append(df(2), root) === 2)
    assert(Files.readString(rival) === before,
      "a published commit record must be immutable")
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L))
  }

  test("vacuum deletes only unreferenced groups; history survives and " +
    "vacuumed versions fail loudly") {
    val root = freshRoot()
    SnapshotStore.append(df(1), root)   // v0 group becomes garbage at v2
    SnapshotStore.append(df(2), root)   // v1 group too
    SnapshotStore.overwrite(df(3), root) // v2
    SnapshotStore.append(df(4), root)   // v3
    // keep the last 2 versions: live sets of v2/v3 reference only the
    // overwrite + last-append groups → the two pre-overwrite groups die
    assert(SnapshotStore.vacuum(root, keep = 2, minAgeMs = 0) === 2)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(3L, 4L))
    assert(idSet(SnapshotStore.read(spark, root, Some(2))) === Set(3L))
    assert(SnapshotStore.history(root).map(_._1) === Seq(0, 1, 2, 3))
    intercept[IllegalArgumentException](
      SnapshotStore.read(spark, root, Some(1)))
    // idempotent: nothing left to collect
    assert(SnapshotStore.vacuum(root, keep = 2, minAgeMs = 0) === 0)
  }

  test("destructive schema drift is rejected; overwrite is the " +
    "destructive-change path (adds are the evolution lane)") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.append(df(1), root)
    // same names, different type → reject
    intercept[IllegalArgumentException](SnapshotStore.append(
      Seq((2, "x")).toDF("id", "tag"), root))
    // overwrite may change the schema destructively, and appends must
    // then carry the new columns (dropping one is rejected)
    SnapshotStore.overwrite(
      Seq((9L, "y", 1.0)).toDF("id", "tag", "score"), root)
    SnapshotStore.append(
      Seq((10L, "z", 2.0)).toDF("id", "tag", "score"), root)
    intercept[IllegalArgumentException](
      SnapshotStore.append(df(11), root))
    assert(idSet(SnapshotStore.read(spark, root)) === Set(9L, 10L))
  }

  test("appendOnce lands a tag exactly once: replays are no-ops and " +
    "the table never double-counts a batch") {
    val root = freshRoot()
    assert(SnapshotStore.appendOnce(df(1, 2), root, "batch-0") === Some(0))
    assert(SnapshotStore.appendOnce(df(3), root, "batch-1") === Some(1))
    // restart replay: same tag, even with different (late, corrected)
    // content — the first commit wins, nothing lands twice
    assert(SnapshotStore.appendOnce(df(99), root, "batch-1") === None)
    assert(SnapshotStore.appendOnce(df(1, 2), root, "batch-0") === None)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L, 3L))
    assert(SnapshotStore.history(root).map(_._1) === Seq(0, 1))
    // untagged appends coexist (they can never collide with a tag)
    SnapshotStore.append(df(7), root)
    assert(SnapshotStore.appendOnce(df(8), root, "batch-2") === Some(3))
    assert(idSet(SnapshotStore.read(spark, root)) ===
      Set(1L, 2L, 3L, 7L, 8L))
  }

  test("changes() derives insert/delete rows across an overwrite " +
    "boundary and is empty between identical versions") {
    val root = freshRoot()
    SnapshotStore.append(df(1, 2), root)  // v0
    SnapshotStore.append(df(3), root)     // v1
    SnapshotStore.overwrite(df(2, 9), root) // v2: keeps 2, drops 1&3, adds 9
    def feed(from: Int, to: Int): Set[(Long, String)] =
      SnapshotStore.changes(spark, root, from, to)
        .select("id", "_change").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(feed(0, 1) === Set((3L, "insert")))
    assert(feed(1, 2) === Set((1L, "delete"), (3L, "delete"),
      (9L, "insert")))
    assert(feed(0, 2) === Set((1L, "delete"), (9L, "insert")))
    assert(feed(2, 2) === Set.empty)
  }

  test("appendClustered writes disjoint-range groups in one commit " +
    "and a point read prunes to one of them") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = freshRoot()
    val v = SnapshotStore.appendClustered(
      df(1L to 100L: _*), root, "id", 4)
    assert(v === 0)
    assert(SnapshotStore.history(root) === Seq((0, "append")))
    assert(idSet(SnapshotStore.read(spark, root)) === (1L to 100L).toSet)
    val point = SnapshotStore.readWhere(spark, root, "id", 50.0, 50.0)
    assert(idSet(point) === Set(50L))
    val scanned = point.queryExecution.optimizedPlan.collectLeaves()
      .collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    assert(scanned.size === 1,
      s"range clustering must let the point read prune to ONE group:\n" +
        scanned.mkString("\n"))
  }

  test("compact rewrites to one group with identical content; a rival " +
    "commit on the target slot forces a clean redo") {
    val root = freshRoot()
    SnapshotStore.append(df(1), root)
    SnapshotStore.append(df(2), root)
    SnapshotStore.append(df(3), root)
    val v = SnapshotStore.compact(spark, root)
    assert(v === 3)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L, 3L))
    // content-identical: CDC across the compaction is empty
    assert(SnapshotStore.changes(spark, root, 2, 3).count() === 0)
    // one live group now; pre-compaction versions still readable
    assert(idSet(SnapshotStore.read(spark, root, Some(1))) === Set(1L, 2L))
    // vacuum reclaims the three small groups (compacted group survives)
    assert(SnapshotStore.vacuum(root, keep = 1, minAgeMs = 0) === 3)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L, 3L))
    // rival on the next slot: compaction must redo, not lose the rival
    SnapshotStore.append(df(4), root)              // v4
    val rival = Paths.get(root, "_commits", f"${5}%08d.json")
    Files.writeString(rival,
      """{"version":5,"action":"append","adds":[],"removes":[],"tag":""}""")
    val v2 = SnapshotStore.compact(spark, root)
    assert(v2 === 6, "compaction must land after the rival slot")
    assert(idSet(SnapshotStore.read(spark, root)) ===
      Set(1L, 2L, 3L, 4L))
  }

  test("readWhere prunes groups by the stats sidecar and still equals " +
    "the unpruned filter") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = freshRoot()
    SnapshotStore.append(df(1, 2, 3), root)
    SnapshotStore.append(df(10, 11), root)
    SnapshotStore.append(df(100, 101), root)
    val pruned = SnapshotStore.readWhere(spark, root, "id", 10.0, 20.0)
    assert(idSet(pruned) === Set(10L, 11L))
    // the scan must address files of exactly ONE group — the other two
    // are excluded by their per-file [min,max] sidecars before planning
    val leaves = pruned.queryExecution.optimizedPlan.collectLeaves()
      .collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    assert(leaves.nonEmpty)
    val groupsScanned = leaves
      .map(p => p.split("/data/").last.split("/").head).distinct
    assert(groupsScanned.size === 1,
      s"expected files of a single pruned group, scanned:\n" +
        leaves.mkString("\n"))
    // equality with the unpruned read under the same predicate
    assert(idSet(SnapshotStore.read(spark, root)
      .where(org.apache.spark.sql.functions.col("id").between(10, 20)))
      === idSet(pruned))
    // a range matching nothing: empty result, never an error
    assert(SnapshotStore.readWhere(spark, root, "id", 50.0, 60.0)
      .count() === 0)
    val all = SnapshotStore.readWhere(spark, root, "id",
      Double.MinValue, Double.MaxValue)
    assert(idSet(all) === Set(1L, 2L, 3L, 10L, 11L, 100L, 101L))
  }

  test("the registered time-travel query matches a direct recompute " +
    "of its three versions") {
    val dir = "/root/testdata/sf0.001"
    val got = operators.Relational.qSnapshotTimeTravel(spark, dir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    val c = Tables.customer(spark, dir)
    def aggOf(d: DataFrame): (Long, Double) = {
      val r = d.agg(count(lit(1)), round(sum("c_acctbal"), 2)).head
      (r.getLong(0), r.getDouble(1))
    }
    val all = aggOf(c)
    assert(got.toSeq === Seq(
      (0, aggOf(c.filter(col("c_nationkey") < 10))._1,
        aggOf(c.filter(col("c_nationkey") < 10))._2),
      (1, all._1, all._2),
      (2, aggOf(c.filter(col("c_mktsegment") === "BUILDING"))._1,
        aggOf(c.filter(col("c_mktsegment") === "BUILDING"))._2)))
  }

  test("clustered compaction keeps FILE-level pruning: one group, " +
    "disjoint per-file ranges, a point read touches a strict subset") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val root = freshRoot()
    SnapshotStore.append(df(1L to 40L: _*), root)
    SnapshotStore.append(df(41L to 80L: _*), root)
    SnapshotStore.compact(spark, root, clusterCol = "id", nFiles = 4)
    // one live group now; the range read must scan FEWER files than
    // the group holds (group-granular stats would scan all of them)
    val pruned = SnapshotStore.readWhere(spark, root, "id", 5.0, 15.0)
    assert(idSet(pruned) === (5L to 15L).toSet)
    val scanned = pruned.queryExecution.optimizedPlan.collectLeaves()
      .collect {
        case l: LogicalRelation => l.relation match {
          case fs: HadoopFsRelation => fs.location.rootPaths.map(_.toString)
          case _ => Seq.empty
        }
      }.flatten
    val groupDir = Paths.get(root, "data").toFile.listFiles()
      .filter(_.isDirectory).head
    val totalFiles = groupDir.listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(totalFiles >= 3, s"compaction should write several files")
    assert(scanned.size < totalFiles,
      s"expected a strict file subset: ${scanned.size} of $totalFiles")
    // protocol equality: pruned == unpruned filter
    assert(idSet(SnapshotStore.read(spark, root)
      .where(col("id").between(5, 15))) === idSet(pruned))
  }

  test("the commit protocol holds under both publishers " +
    "(hard-link and conditional-put): CAS, tag dedup, compaction") {
    for (pub <- Seq(SnapshotStore.HardLinkPublisher,
        SnapshotStore.CreateNewPublisher)) {
      val root = freshRoot()
      assert(SnapshotStore.append(df(1, 2), root, pub) === 0)
      assert(SnapshotStore.appendOnce(df(3), root, "b1", pub) === Some(1))
      assert(SnapshotStore.appendOnce(df(99), root, "b1", pub) === None)
      assert(SnapshotStore.overwrite(df(9), root, pub) === 2)
      assert(SnapshotStore.append(df(10), root, pub) === 3)
      assert(SnapshotStore.compact(spark, root, pub) === 4)
      assert(idSet(SnapshotStore.read(spark, root)) === Set(9L, 10L))
      assert(idSet(SnapshotStore.read(spark, root, Some(1))) ===
        Set(1L, 2L, 3L))
      assert(SnapshotStore.history(root).map(_._1) === (0 to 4))
    }
  }

  test("add-column evolution: appends may add columns (old groups " +
    "read null-filled), drops and retypes are rejected") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.append(df(1, 2), root)
    SnapshotStore.append(
      Seq((3L, "r3", 30.0)).toDF("id", "tag", "score"), root)
    val latest = SnapshotStore.read(spark, root)
    assert(latest.columns.toSet === Set("id", "tag", "score"))
    val byId = latest.collect()
      .map(r => r.getAs[Long]("id") ->
        Option(r.getAs[java.lang.Double]("score")).map(_.doubleValue))
      .toMap
    assert(byId === Map(1L -> None, 2L -> None, 3L -> Some(30.0)))
    // time travel BEFORE the boundary reads only old groups — the old
    // schema, untouched by the later evolution
    assert(SnapshotStore.read(spark, root, Some(0)).columns.toSet ===
      Set("id", "tag"))
    // a drop and a retype are both rejected (overwrite is the path)
    intercept[IllegalArgumentException](
      SnapshotStore.append(Seq(4L).toDF("id"), root))
    intercept[IllegalArgumentException](
      SnapshotStore.append(
        Seq((5L, "r5", "oops")).toDF("id", "tag", "score"), root))
    // the widened table accepts further appends in the NEW shape
    SnapshotStore.append(
      Seq((6L, "r6", 60.0)).toDF("id", "tag", "score"), root)
    // CDC across the boundary: an unchanged old row must NOT surface
    // as delete+insert merely because the schema grew
    val ch = SnapshotStore.changes(spark, root, 0, 1).collect()
    assert(ch.length === 1)
    assert(ch.head.getAs[String]("_change") === "insert")
    assert(ch.head.getAs[Long]("id") === 3L)
    // readWhere prunes/filters across the boundary too
    assert(SnapshotStore.readWhere(spark, root, "id", 3.0, 6.0)
      .count() === 2)
    // pruning must never change the result SCHEMA: a range matching
    // only PRE-evolution groups excludes every file that carries the
    // added column, and the frame must still expose it (null-filled)
    // — data values deciding a frame's shape would make the same
    // query's .select("score") succeed or throw by range
    val oldOnly = SnapshotStore.readWhere(spark, root, "id", 1.0, 2.0)
    assert(oldOnly.columns.toSet === Set("id", "tag", "score"))
    assert(oldOnly.select("score").collect().map(
      r => Option(r.get(0))).toSeq === Seq(None, None))
  }

  test("compaction commutes with appends: the compact commit removes " +
    "exactly its source groups, so an interleaved append survives") {
    val root = freshRoot()
    SnapshotStore.append(df(1), root)                   // v0
    SnapshotStore.append(df(2), root)                   // v1
    val vc = SnapshotStore.compact(spark, root)         // v2: compact
    assert(vc === 2)
    assert(SnapshotStore.history(root).last === ((2, "compact")))
    SnapshotStore.append(df(3), root)                   // v3
    // replay: (live \ sources) + rewrite, then the append's group
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L, 3L))
    assert(idSet(SnapshotStore.read(spark, root, Some(2))) ===
      Set(1L, 2L))
    // a second compact folds rewrite + appended group again
    val vc2 = SnapshotStore.compact(spark, root)        // v4
    assert(idSet(SnapshotStore.read(spark, root, Some(vc2))) ===
      Set(1L, 2L, 3L))
    // vacuum keeps only the latest referenced group(s): the two
    // originals, the FIRST rewrite, and the appended group all die
    assert(SnapshotStore.vacuum(root, keep = 1, minAgeMs = 0) === 4)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L, 3L))
  }

  test("upsert replaces matched keys, inserts the rest, and rewrites " +
    "ONLY the stats-touched groups (copy-on-write + pruning)") {
    import spark.implicits._
    val root = freshRoot()
    // two key-disjoint clustered groups: ids 1-10 and 101-110
    SnapshotStore.append(
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "tag"), root)
    SnapshotStore.append(
      (101L to 110L).map(i => (i, s"r$i")).toDF("id", "tag"), root)
    // batch: update ids 3,4 + insert id 11 — key range [3, 11] can
    // only intersect the FIRST group
    val batch = Seq((3L, "UP3"), (4L, "UP4"), (11L, "NEW"))
      .toDF("id", "tag")
    val v = SnapshotStore.upsert(spark, batch, root, "id")
    assert(v === 2)
    assert(SnapshotStore.history(root).last === ((2, "upsert")))
    val after = SnapshotStore.read(spark, root)
    assert(after.count() === 21)
    val tags = after.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tags(3L) === "UP3" && tags(4L) === "UP4" && tags(11L) === "NEW")
    assert(tags(5L) === "r5" && tags(105L) === "r105")
    // CDC across the upsert (before vacuum reclaims v1's group):
    // exactly the changed rows — updates as delete+insert, the new
    // key as insert, untouched rows absent
    val ch = SnapshotStore.changes(spark, root, 1, 2).collect()
      .map(r => (r.getAs[String]("_change"), r.getAs[Long]("id"),
        r.getAs[String]("tag"))).toSet
    assert(ch === Set(("delete", 3L, "r3"), ("delete", 4L, "r4"),
      ("insert", 3L, "UP3"), ("insert", 4L, "UP4"),
      ("insert", 11L, "NEW")))
    // copy-on-write pruning: only the FIRST group was rewritten, so
    // vacuum(keep=1) reclaims exactly that one original group — the
    // second group is still live, untouched, in the latest version
    assert(SnapshotStore.vacuum(root, keep = 1, minAgeMs = 0) === 1)
    assert(SnapshotStore.read(spark, root).count() === 21)
    // duplicate batch keys are rejected
    intercept[IllegalArgumentException](SnapshotStore.upsert(spark,
      Seq((7L, "a"), (7L, "b")).toDF("id", "tag"), root, "id"))
    // upsert into an EMPTY table is the batch at version 0
    val root2 = freshRoot()
    assert(SnapshotStore.upsert(spark, batch, root2, "id") === 0)
    assert(SnapshotStore.read(spark, root2).count() === 3)
  }

  test("file-granular copy-on-write: after clustered compaction a " +
    "narrow upsert rewrites only the matching FILES — clear files " +
    "re-link with their sidecar entries intact") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.append(
      (1L to 400L).map(i => (i, s"r$i")).toDF("id", "tag"), root)
    // ONE group, 4 disjoint-range files
    SnapshotStore.compact(spark, root, clusterCol = "id", nFiles = 4)
    // narrow batch: keys in the first file's range only
    val v = SnapshotStore.upsert(spark,
      Seq((5L, "UP5"), (401L, "NEW")).toDF("id", "tag"), root, "id")
    // the commit removed the single compacted group but added TWO:
    // the rewrite (1 matched file's survivors + batch) and the link
    // group carrying the 3 clear files forward
    val (_, act, adds, removes) =
      SnapshotStore.describeHistory(root).find(_._1 == v).get
    assert(act === "upsert" && removes === 1 && adds === 2)
    val after = SnapshotStore.read(spark, root)
    assert(after.count() === 401)
    val tags = after.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tags(5L) === "UP5" && tags(401L) === "NEW" &&
      tags(6L) === "r6" && tags(399L) === "r399")
    // the linked files' sidecar entries survived: a ranged read in a
    // clear file's range still prunes (and still returns its rows)
    assert(SnapshotStore.readWhere(spark, root, "id", 350.0, 360.0)
      .count() === 11)
    // NULL batch keys and empty batches are their own contracts
    val e = intercept[IllegalArgumentException](SnapshotStore.upsert(
      spark, Seq((Option.empty[Long], "x")).toDF("id", "tag"),
      root, "id"))
    assert(e.getMessage.contains("NULL"))
    assert(SnapshotStore.upsert(spark,
      spark.emptyDataset[(Long, String)].toDF("id", "tag"),
      root, "id") === v, "empty batch is a no-op at the current version")
    assert(SnapshotStore.describeHistory(root).last._1 === v)
  }

  test("upsert recomputes on a lost CAS race: a rival commit with a " +
    "matching key landed mid-flight is still replaced exactly once") {
    import spark.implicits._
    import java.nio.file.Path
    val root = freshRoot()
    SnapshotStore.append(df(1, 2), root)
    // the racing publisher sneaks a rival append (key 3, OLD) into
    // the version slot just before our first publish attempt, forcing
    // the CAS loss; the retry MUST recompute its touch plan from the
    // new head and remove the rival's row — a cached rewrite (the
    // compact() reuse trick) would let OLD survive beside NEW
    var injected = false
    val racer = new SnapshotStore.CommitPublisher {
      def putIfAbsent(dir: Path, name: String, json: String): Boolean = {
        if (!injected) {
          injected = true
          SnapshotStore.append(Seq((3L, "OLD")).toDF("id", "tag"), root)
        }
        SnapshotStore.HardLinkPublisher.putIfAbsent(dir, name, json)
      }
    }
    val v = SnapshotStore.upsert(spark,
      Seq((3L, "NEW")).toDF("id", "tag"), root, "id", racer)
    assert(v === 2, "upsert must land AFTER the rival's slot")
    val rows = SnapshotStore.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    assert(rows.count(_._1 == 3L) === 1, "exactly one row for the key")
    assert(rows.toMap.apply(3L) === "NEW")
    assert(rows.length === 3)
    // keying on a column the batch is newly ADDING is rejected up
    // front (survivors could not resolve it)
    val e = intercept[IllegalArgumentException](SnapshotStore.upsert(
      spark, Seq((9L, "x", 1.0)).toDF("id", "tag", "k2"), root, "k2"))
    assert(e.getMessage.contains("does not exist in the table schema"))
  }

  test("NaN values never poison stats pruning: files with NaN key " +
    "bounds stay visible to reads AND to upsert/delete touch sets") {
    import spark.implicits._
    val root = freshRoot()
    // one file whose key max is NaN (NaN sorts above everything in
    // Spark min/max) plus a clean file
    SnapshotStore.append(
      Seq((5.0, "a"), (7.0, "b"), (Double.NaN, "nan")).toDF("k", "tag"),
      root)
    SnapshotStore.append(
      Seq((100.0, "far")).toDF("k", "tag"), root)
    // read-side: the NaN-stats file must not be pruned away
    assert(SnapshotStore.readWhere(spark, root, "k", 6.0, 8.0)
      .count() === 1)
    // write-side: upsert of key 7 must REPLACE, not duplicate
    SnapshotStore.upsert(spark,
      Seq((7.0, "UP")).toDF("k", "tag"), root, "k")
    val rows = SnapshotStore.read(spark, root).collect()
      .map(r => (r.getDouble(0), r.getString(1)))
    assert(rows.count(r => r._1 == 7.0) === 1)
    assert(rows.find(r => r._1 == 7.0).get._2 === "UP")
    // and deleteWhere in the NaN file's range really deletes
    SnapshotStore.deleteWhere(spark, root, "k", 4.0, 6.0)
    assert(SnapshotStore.read(spark, root).count() === 3)
  }

  test("deleteWhere removes the range atomically, keeps NULL rows, " +
    "prunes untouched groups, and no-ops when nothing can match") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.append(
      (1L to 10L).map(i => (i, s"r$i")).toDF("id", "tag"), root)
    SnapshotStore.append(
      (101L to 110L).map(i => (i, s"r$i")).toDF("id", "tag"), root)
    // range [3, 5] touches only the first group
    val v = SnapshotStore.deleteWhere(spark, root, "id", 3.0, 5.0)
    assert(v === 2)
    assert(SnapshotStore.history(root).last === ((2, "delete")))
    assert(idSet(SnapshotStore.read(spark, root)) ===
      ((1L to 10L).toSet -- Set(3L, 4L, 5L)) ++ (101L to 110L).toSet)
    // only the first group was rewritten
    assert(SnapshotStore.vacuum(root, keep = 1, minAgeMs = 0) === 1)
    // a range no live group can contain is a NO-OP: same version, no
    // new commit
    assert(SnapshotStore.deleteWhere(spark, root, "id", 900.0, 999.0)
      === 2)
    assert(SnapshotStore.history(root).last._1 === 2)
    // NULL rows never match a range predicate
    val root3 = freshRoot()
    SnapshotStore.append(
      Seq((Some(1L), "a"), (None, "nullrow"), (Some(9L), "z"))
        .toDF("id", "tag"), root3)
    SnapshotStore.deleteWhere(spark, root3, "id", 0.0, 100.0)
    val left = SnapshotStore.read(spark, root3).collect()
    assert(left.length === 1 && left.head.getString(1) === "nullrow")
  }

  test("concurrent appendOnce under one tag lands exactly one batch " +
    "(the zombie-replay race: dedup is atomic with the version CAS)") {
    import java.util.concurrent.{CountDownLatch, Executors}
    val root = freshRoot()
    SnapshotStore.append(df(1), root)
    val pool = Executors.newFixedThreadPool(4)
    try {
      (0 until 10).foreach { round =>
        val gate = new CountDownLatch(1)
        val racers = (0 until 4).map { i =>
          pool.submit(new java.util.concurrent.Callable[Option[Int]] {
            def call(): Option[Int] = {
              val d = df(100L + round * 10 + i)
              gate.await()
              SnapshotStore.appendOnce(d, root, s"batch-$round")
            }
          })
        }
        gate.countDown()
        val results = racers.map(_.get())
        assert(results.count(_.isDefined) === 1,
          s"round $round: expected exactly one winner, got $results")
      }
      // one row per round landed, however the races resolved
      assert(SnapshotStore.read(spark, root).count() === 11)
    } finally pool.shutdown()
  }

  test("commit-log checkpointing: every Nth commit also publishes a " +
    "derived checkpoint; replay, tag dedup, and time travel agree " +
    "across it under both publishers, and vacuum crosses the boundary") {
    val N = SnapshotStore.CheckpointInterval
    for (pub <- Seq(SnapshotStore.HardLinkPublisher,
        SnapshotStore.CreateNewPublisher)) {
      val root = freshRoot()
      (0 until 8).foreach(i =>
        SnapshotStore.append(df(i.toLong), root, pub))        // v0..v7
      assert(SnapshotStore.appendOnce(df(50), root, "pre-ckpt", pub)
        === Some(8))                                          // v8
      SnapshotStore.overwrite(df(60), root, pub)              // v9
      assert(!Files.exists(Paths.get(root, "_commits", f"$N%08d.ckpt")),
        "no checkpoint before the interval boundary")
      SnapshotStore.append(df(70), root, pub)                 // v10 → ckpt
      assert(Files.exists(Paths.get(root, "_commits", f"$N%08d.ckpt")),
        s"commit $N must publish a checkpoint")
      SnapshotStore.append(df(80), root, pub)                 // v11
      // latest replays checkpoint + suffix
      assert(idSet(SnapshotStore.read(spark, root)) === Set(60L, 70L, 80L))
      // a tag that landed BEFORE the checkpoint still dedups — the
      // checkpoint carries the seen-tag set, not just the live set
      assert(SnapshotStore.appendOnce(df(99), root, "pre-ckpt", pub)
        === None)
      // time travel at the checkpoint version and after it (fast path)
      assert(idSet(SnapshotStore.read(spark, root, Some(10))) ===
        Set(60L, 70L))
      // ...and BEFORE it (full-record fallback replay)
      assert(idSet(SnapshotStore.read(spark, root, Some(5))) ===
        (0L to 5L).toSet)
      assert(idSet(SnapshotStore.read(spark, root, Some(8))) ===
        (0L to 7L).toSet + 50L)
      // vacuum across the checkpoint boundary: pre-overwrite groups die
      assert(SnapshotStore.vacuum(root, keep = 2, minAgeMs = 0) === 9)
      assert(idSet(SnapshotStore.read(spark, root)) === Set(60L, 70L, 80L))
      intercept[IllegalArgumentException](
        SnapshotStore.read(spark, root, Some(3)))
      // writes keep flowing after the boundary (upsert reads the
      // checkpointed state)
      import spark.implicits._
      SnapshotStore.upsert(spark,
        Seq((60L, "UP")).toDF("id", "tag"), root, "id", pub)  // v12
      val tags = SnapshotStore.read(spark, root).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(tags === Map(60L -> "UP", 70L -> "r70", 80L -> "r80"))
      // grow to the next boundary; retention sweeps the superseded v10
      // checkpoint once v20 covers the horizon (keep = 1 → cut = v20)
      (13L to 20L).foreach(i => SnapshotStore.append(df(100 + i), root, pub))
      val dir = Paths.get(root, "_commits")
      assert(Files.exists(dir.resolve(f"${2 * N}%08d.ckpt")))
      assert(SnapshotStore.vacuumLog(root, keep = 1, minAgeMs = 0) > 0)
      assert(listNames(dir).filter(_.endsWith(".ckpt")) ===
        Seq(f"${2 * N}%08d.ckpt"), "only the covering checkpoint stays")
      assert(idSet(SnapshotStore.read(spark, root)) ===
        Set(60L, 70L, 80L) ++ (113L to 120L))
      // the v20 checkpoint alone still carries the pre-checkpoint tag
      assert(SnapshotStore.appendOnce(df(99), root, "pre-ckpt", pub)
        === None)
      intercept[IllegalArgumentException](
        SnapshotStore.read(spark, root, Some(15)))
    }
  }

  test("commit-record retention: vacuumLog prunes records behind the " +
    "newest horizon-covering checkpoint; reads inside the horizon stay " +
    "green, outside are explicitly rejected, history spans the suffix") {
    val root = freshRoot()
    assert(SnapshotStore.appendOnce(df(1000), root, "early") === Some(0))
    (1L to 22L).foreach(i => SnapshotStore.append(df(i), root))
    // v0..v22, checkpoints at 10 and 20; horizon keep=5 starts at 18,
    // so the newest covering checkpoint is v10 → records 0..10 go
    assert(SnapshotStore.vacuumLog(root, keep = 5, minAgeMs = 0) === 11)
    assert(idSet(SnapshotStore.read(spark, root)) ===
      (1L to 22L).toSet + 1000L)
    // fast path (≥ newest ckpt) and slow path (ckpt10 + records 11..15)
    assert(idSet(SnapshotStore.read(spark, root, Some(21))) ===
      (1L to 21L).toSet + 1000L)
    assert(idSet(SnapshotStore.read(spark, root, Some(15))) ===
      (1L to 15L).toSet + 1000L)
    // outside the retained log: rejected loudly, never a wrong replay
    val e = intercept[IllegalArgumentException](
      SnapshotStore.read(spark, root, Some(5)))
    assert(e.getMessage.contains("retained commit log"))
    // history spans exactly the retained suffix
    assert(SnapshotStore.describeHistory(root).map(_._1) === (11 to 22))
    // the pre-horizon tag still dedups (carried by the checkpoints)
    assert(SnapshotStore.appendOnce(df(9999), root, "early") === None)
    // idempotent until a newer covering checkpoint appears
    assert(SnapshotStore.vacuumLog(root, keep = 5, minAgeMs = 0) === 0)
    // grow past the next boundary: v23..v30 (ckpt at 30), horizon 26
    // → cut moves to ckpt20: records 11..20 + the superseded ckpt10 go
    (23L to 30L).foreach(i => SnapshotStore.append(df(i), root))
    assert(SnapshotStore.vacuumLog(root, keep = 5, minAgeMs = 0) === 11)
    assert(idSet(SnapshotStore.read(spark, root)) ===
      (1L to 30L).toSet + 1000L)
    assert(idSet(SnapshotStore.read(spark, root, Some(25))) ===
      (1L to 25L).toSet + 1000L)
    intercept[IllegalArgumentException](
      SnapshotStore.read(spark, root, Some(15)))
    assert(SnapshotStore.describeHistory(root).map(_._1) === (21 to 30))
    // a keep horizon no checkpoint covers yet prunes nothing
    val root2 = freshRoot()
    (0L to 5L).foreach(i => SnapshotStore.append(df(i), root2))
    assert(SnapshotStore.vacuumLog(root2, keep = 2, minAgeMs = 0) === 0)
  }

  private def listNames(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try {
      val it = s.iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) b += it.next().getFileName.toString
      b.toSeq
    } finally s.close()
  }

  test("vacuum rejects keep < 1 (keep = 0 would reference nothing and " +
    "delete the live head); vacuumLog sweeps crash-orphaned .tmp files") {
    val root = freshRoot()
    (0L to 2L).foreach(i => SnapshotStore.append(df(i), root))
    intercept[IllegalArgumentException](
      SnapshotStore.vacuum(root, keep = 0, minAgeMs = 0))
    assert(idSet(SnapshotStore.read(spark, root)) === Set(0L, 1L, 2L))
    // a crashed HardLinkPublisher writer's leftover: swept by
    // vacuumLog once past the grace window, counted in the return
    val orphan = Paths.get(root, "_commits", ".tmp-deadbeef")
    Files.writeString(orphan, "{\"half\":")
    assert(SnapshotStore.vacuumLog(root, keep = 1, minAgeMs = 0) >= 1)
    assert(!Files.exists(orphan))
    assert(idSet(SnapshotStore.read(spark, root)) === Set(0L, 1L, 2L))
  }

  test("evolved-column predicates resolve even when every surviving " +
    "file predates the evolution: readWhere/upsert/deleteWhere " +
    "null-fill instead of throwing") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.append(df(1, 2), root) // pre-evolution: (id, tag)
    SnapshotStore.append(
      Seq((3L, "r3", 30.0)).toDF("id", "tag", "score"), root)
    // range [100, 200] excludes the one post-evolution file by stats,
    // so the pruned scan holds ONLY pre-evolution files (no `score`);
    // the aligned projection must null-fill and return empty, not throw
    val pruned = SnapshotStore.readWhere(spark, root, "score", 100.0, 200.0)
    assert(pruned.columns.toSet === Set("id", "tag", "score"))
    assert(pruned.count() === 0)
    // upsert keyed on the evolved column: batch key range [500, 500]
    // excludes the post-evolution file, so every hit path predates the
    // evolution — survivors (null score) never match and all carry over
    val v = SnapshotStore.upsert(spark,
      Seq((9L, "NEW", 500.0)).toDF("id", "tag", "score"), root, "score")
    assert(idSet(SnapshotStore.read(spark, root, Some(v))) ===
      Set(1L, 2L, 3L, 9L))
    // deleteWhere on the evolved column over the same pre-evolution-only
    // hit set: null rows all survive the range predicate
    SnapshotStore.deleteWhere(spark, root, "score", 400.0, 600.0)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L, 3L))
  }

  test("torn commit records fail CLOSED: a truncated or mangled " +
    "record raises loudly instead of replaying a corrupt live set") {
    val root = freshRoot()
    SnapshotStore.append(df(1), root)
    // a permanently truncated record (a torn CreateNewPublisher write
    // that never completed, or external corruption)
    Files.writeString(Paths.get(root, "_commits", "00000001.json"),
      """{"version":1,"action":"append","adds":["data/ab""")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.read(spark, root))
    assert(e.getMessage.contains("torn or corrupt"))
    // a complete-looking record whose group violates the data/<uuid>
    // grammar is equally rejected (a torn adds array mangles names)
    Files.writeString(Paths.get(root, "_commits", "00000001.json"),
      """{"version":1,"action":"append","adds":["datax/1"],""" +
        """"removes":[],"tag":""}""")
    val e2 = intercept[IllegalArgumentException](
      SnapshotStore.read(spark, root))
    assert(e2.getMessage.contains("torn or corrupt"))
  }

  test("every proper prefix of a written commit record and of a " +
    "checkpoint fails as torn or corrupt") {
    val root = freshRoot()
    SnapshotStore.appendOnce(df(1), root, "b-0")
    (1L to SnapshotStore.CheckpointInterval.toLong)
      .foreach(i => SnapshotStore.append(df(i), root))
    val dir = Paths.get(root, "_commits")
    val record = Files.readString(dir.resolve("00000000.json"))
    val ckpt = Files.readString(dir.resolve(
      f"${SnapshotStore.CheckpointInterval}%08d.ckpt"))
    assert(SnapshotStore.parse(record).tag === "b-0")
    assert(SnapshotStore.parseCkpt(ckpt).live.size === 11)
    for ((text, parse) <- Seq[(String, String => Any)](
        (record, SnapshotStore.parse _), (ckpt, SnapshotStore.parseCkpt _));
        n <- 0 until text.length) {
      val e = intercept[IllegalArgumentException](parse(text.take(n)))
      assert(e.getMessage.contains("torn or corrupt"), text.take(n))
    }
  }

  test("a log written before the json4s codec parses to the same " +
    "commits, replays, and is written back byte for byte") {
    // copied from a table written by the hand-rolled codec: an append,
    // a tag-only empty batch, an overwrite, a compaction, the v10
    // checkpoint
    val schema = "eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiaWQiLCJ0eXBlIj" +
      "oibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6" +
      "InRhZyIsInR5cGUiOiJzdHJpbmciLCJudWxsYWJsZSI6dHJ1ZSwibWV0YWRhdG" +
      "EiOnt9fV19"
    def g(id: String) = s"data/$id"
    val v0 = g("092dc335-45e3-4024-a7f3-3afb8586e858")
    val v2 = g("442196d1-6c16-4a2b-80c4-ff34c67e44c6")
    val v3 = g("2d3eba38-2383-4af8-a9bd-9ccca18710fe")
    val v4to8 = Seq("fd93f4b6-f9b0-43da-8d2e-fb979cc66f02",
      "fb07d42e-4021-45fd-8058-fc6966273dcb",
      "2d9c68ec-531a-4947-920e-95820ea14709",
      "2a1bd280-f6ec-4d09-9101-585216dcfde2",
      "b773f850-7f68-4dd8-b6a0-6c938524ad49").map(g)
    val v9 = g("7632fdd8-09e2-451b-8b88-624380d6b545")
    val v10 = g("24eecce0-223f-4357-8546-d7d38d90f825")
    import SnapshotStore.{Ckpt, Commit}
    val golden = Seq[(String, Commit)](
      s"""{"version":0,"action":"append","adds":["$v0"],"removes":[],""" +
        s""""tag":"","schema":"$schema"}""" ->
        Commit(0, "append", Vector(v0), Vector(), "", schema),
      s"""{"version":1,"action":"append","adds":[],"removes":[],""" +
        s""""tag":"batch-1","schema":"$schema"}""" ->
        Commit(1, "append", Vector(), Vector(), "batch-1", schema),
      s"""{"version":3,"action":"overwrite","adds":["$v3"],""" +
        s""""removes":["$v0","$v2"],"tag":"","schema":"$schema"}""" ->
        Commit(3, "overwrite", Vector(v3), Vector(v0, v2), "", schema),
      s"""{"version":9,"action":"compact","adds":["$v9"],"removes":""" +
        s"""["$v3",${v4to8.map("\"" + _ + "\"").mkString(",")}],""" +
        s""""tag":"","schema":"$schema"}""" ->
        Commit(9, "compact", Vector(v9), (v3 +: v4to8).toVector, "", schema))
    golden.foreach { case (text, commit) =>
      assert(SnapshotStore.parse(text) === commit)
      assert(SnapshotStore.render(commit) === text)
    }
    val ckText = s"""{"version":10,"tags":["batch-1","batch-2"],""" +
      s""""schema":"$schema","live":["$v9","$v10"]}"""
    val ck = Ckpt(10, Vector(v9, v10), Set("batch-1", "batch-2"), schema)
    assert(SnapshotStore.parseCkpt(ckText) === ck)
    assert(SnapshotStore.render(ck) === ckText)
    // the same files as a log: replay, time travel and tag dedup
    val root = freshRoot()
    val dir = Files.createDirectories(Paths.get(root, "_commits"))
    golden.foreach { case (text, c) =>
      Files.writeString(dir.resolve(f"${c.version}%08d.json"), text)
    }
    Files.writeString(dir.resolve(f"${10}%08d.ckpt"), ckText)
    assert(SnapshotStore.probeStateLiveCount(root) === 2)
    assert(SnapshotStore.schemaAt(root).fieldNames.toSeq === Seq("id", "tag"))
    assert(SnapshotStore.describeHistory(root) ===
      Seq((0, "append", 1, 0), (1, "append", 0, 0), (3, "overwrite", 1, 2),
        (9, "compact", 1, 6)))
    // time travel below the checkpoint replays the records 0..1
    assert(SnapshotStore.schemaAt(root, Some(1)).fieldNames.toSeq ===
      Seq("id", "tag"))
    assert(SnapshotStore.appendOnce(df(7), root, "batch-2") === None)
  }

  test("a commit record that adds data without a logged table schema " +
    "fails closed with a rewrite-this-table error") {
    val root = freshRoot()
    SnapshotStore.append(df(1), root)
    Files.writeString(Paths.get(root, "_commits", "00000001.json"),
      """{"version":1,"action":"append","adds":["data/0123abcd"],""" +
        """"removes":[],"tag":""}""")
    val e = intercept[IllegalArgumentException](
      SnapshotStore.read(spark, root))
    assert(e.getMessage.contains("rewrite this table"))
  }

  test("stats sidecar bounds CONTAIN long values beyond double " +
    "precision (widened outward, never rounded past the true value)") {
    import spark.implicits._
    val root = freshRoot()
    // 2^53+3 and 2^53+5 both round to the double 2^53+4 — a blind
    // double-cast sidecar would store min ABOVE the true min and max
    // BELOW the true max, so pruning could exclude a group that holds
    // matching rows under exact comparison semantics
    val lo = (1L << 53) + 3
    val hi = (1L << 53) + 5
    SnapshotStore.append(Seq((lo, "a"), (hi, "b")).toDF("id", "tag"), root)
    val groupDir = Files.list(Paths.get(root, "data")).iterator()
      .next()
    val stats = Files.readString(groupDir.resolve("_stats.json"))
    // per-file format: collect every file's [min,max] entry for id
    val entries = "\\|id\":\\[([^\\]]*)\\]".r
      .findAllMatchIn(stats)
      .map(_.group(1).split(",").map(_.trim.toDouble)).toSeq
    assert(entries.nonEmpty, s"no id stats in sidecar: $stats")
    val mn = entries.map(_(0)).min
    val mx = entries.map(_(1)).max
    assert(BigDecimal(mn) <= BigDecimal(lo),
      s"sidecar min $mn rounded past true min $lo")
    assert(BigDecimal(mx) >= BigDecimal(hi),
      s"sidecar max $mx rounded past true max $hi")
  }

  test("a store root deleted and recreated at the same path does not " +
    "replay the old incarnation's cached checkpoint") {
    val N = SnapshotStore.CheckpointInterval
    val root = freshRoot()
    def build(base: Long): Unit =
      (0 to N).foreach(i => SnapshotStore.append(df(base + i), root))
    build(0L)
    assert(Files.exists(Paths.get(root, "_commits", f"$N%08d.ckpt")),
      s"commit $N must publish a checkpoint")
    // populate the newest-checkpoint cache for this dir
    assert(idSet(SnapshotStore.read(spark, root)) === (0L to N).toSet)
    // wipe the whole root and rebuild a DIFFERENT table at the SAME
    // path — versions replay from zero, so the deterministic
    // checkpoint name reappears with a different live set
    Files.walk(Paths.get(root)).sorted(
        java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => Files.deleteIfExists(p))
    Thread.sleep(5) // keep the two manifests' mtimes distinguishable
    build(100L)
    assert(idSet(SnapshotStore.read(spark, root)) === (100L to 100L + N).toSet,
      "state() replayed a stale cached live set from the old incarnation")
  }

  test("appendOnce Spark-job budget: one data write; a replayed tag " +
    "runs no job") {
    val root = freshRoot()
    SnapshotStore.appendOnce(df(1, 2), root, "batch-0")
    SnapshotStore.appendOnce(df(3), root, "batch-1")
    val jobs = JobCensus.of(spark) {
      assert(SnapshotStore.appendOnce(df(4, 5), root, "batch-2") === Some(2))
    }
    // the group write only: the schema check reads the logged schema
    assert(jobs.size == 1, s"appendOnce ran ${jobs.size} Spark " +
      s"jobs: ${jobs.map(_.stages.mkString("+")).mkString("; ")}")
    val replay = JobCensus.of(spark) {
      assert(SnapshotStore.appendOnce(df(6), root, "batch-2") === None)
    }
    assert(replay.isEmpty, s"a replayed tag ran Spark jobs: $replay")
  }

  test("a table whose commits are all empty batches reads as an empty " +
    "frame of its logged schema; the empty commits hold only their tags") {
    val root = freshRoot()
    assert(SnapshotStore.appendOnce(df().limit(0), root, "b-0") === Some(0))
    assert(SnapshotStore.appendOnce(df().limit(0), root, "b-1") === Some(1))
    assert(SnapshotStore.describeHistory(root) ===
      Seq((0, "append", 0, 0), (1, "append", 0, 0)))
    assert(SnapshotStore.probeStateLiveCount(root) === 0)
    assert(!Files.exists(Paths.get(root, "data")) ||
      Files.list(Paths.get(root, "data")).count() === 0,
      "an empty batch must leave no data group behind")
    val r = SnapshotStore.read(spark, root)
    assert(r.schema.map(f => (f.name, f.dataType)) ===
      df().schema.map(f => (f.name, f.dataType)))
    assert(r.count() === 0)
    assert(SnapshotStore.readWhere(spark, root, "id", 0.0, 9.0).count() === 0)
    // the logged schema still guards the next append, which adds data
    assert(SnapshotStore.appendOnce(df(1, 2), root, "b-2") === Some(2))
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L))
    assert(SnapshotStore.appendOnce(df(3), root, "b-0") === None)
    assert(idSet(SnapshotStore.read(spark, root)) === Set(1L, 2L))
  }

  test("every Spark job of a SnapshotStore write is described " +
    "snapshot.<op>; the caller's description is restored") {
    import spark.implicits._
    val sc = spark.sparkContext
    val root = freshRoot()
    val ops: Seq[(String, () => Any)] = Seq(
      "appendOnce" -> (() => SnapshotStore.appendOnce(df(1, 2, 3), root, "t")),
      "append" -> (() => SnapshotStore.append(df(4, 5), root)),
      "appendClustered" -> (() =>
        SnapshotStore.appendClustered(df(8, 9), root, "id", 2)),
      "upsert" -> (() => SnapshotStore.upsert(spark,
        Seq((2L, "UP"), (7L, "NEW")).toDF("id", "tag"), root, "id")),
      "deleteWhere" -> (() =>
        SnapshotStore.deleteWhere(spark, root, "id", 4.0, 4.0)),
      "compact" -> (() => SnapshotStore.compact(spark, root)),
      "overwrite" -> (() => SnapshotStore.overwrite(df(10), root)))
    sc.setJobDescription("caller")
    try ops.foreach { case (op, run) =>
      val jobs = JobCensus.of(spark)(run())
      assert(jobs.nonEmpty, op)
      assert(jobs.forall(_.description == s"snapshot.$op"),
        jobs.mkString("\n"))
      assert(sc.getLocalProperty("spark.job.description") === "caller")
    } finally sc.setJobDescription(null)
    assert(idSet(SnapshotStore.read(spark, root, Some(5))) ===
      Set(1L, 2L, 3L, 5L, 7L, 8L, 9L))
    assert(idSet(SnapshotStore.read(spark, root)) === Set(10L))
  }

  test("building read, readWhere and changes frames starts no Spark " +
    "job; upsert and deleteWhere run no parquet job beyond their write") {
    import spark.implicits._
    val root = freshRoot()
    SnapshotStore.append(df(1, 2, 3), root)
    SnapshotStore.append(
      Seq((10L, "r10", 1.0)).toDF("id", "tag", "score"), root)
    SnapshotStore.overwrite(df(1, 2, 10), root)
    val build = JobCensus.of(spark) {
      SnapshotStore.read(spark, root)
      SnapshotStore.read(spark, root, Some(1))
      SnapshotStore.readWhere(spark, root, "id", 2.0, 9.0)
      SnapshotStore.readWhere(spark, root, "score", 0.0, 9.0, Some(1))
      SnapshotStore.changes(spark, root, 0, 1)
    }
    assert(build.isEmpty, s"frame building ran Spark jobs: $build")
    // at most the group write carries this call site (an adaptive
    // write's query stages run under another); a schema read would too
    def parquetJobs(jobs: Seq[JobCensus.Job]) =
      jobs.filter(_.stages.exists(_.startsWith("parquet at SnapshotStore")))
    val up = JobCensus.of(spark) {
      SnapshotStore.upsert(spark,
        Seq((2L, "UP"), (7L, "NEW")).toDF("id", "tag"), root, "id")
    }
    assert(parquetJobs(up).size <= 1,
      s"upsert ran parquet jobs beyond its one write: $up")
    val del = JobCensus.of(spark) {
      SnapshotStore.deleteWhere(spark, root, "id", 1.0, 1.0)
    }
    assert(parquetJobs(del).size <= 1,
      s"deleteWhere ran parquet jobs beyond its one write: $del")
    assert(idSet(SnapshotStore.read(spark, root)) === Set(2L, 7L, 10L))
  }

  test("a row group whose double bounds parquet withholds (NaN in the " +
    "chunk) keeps its file visible to readWhere beside clean row groups") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    // a small row-group size on a child session: one file, many groups
    val s = spark.newSession()
    s.conf.set("parquet.block.size", "4096")
    val root = freshRoot()
    val n = 4000L
    // first half: clean k = id; second half: k = id + 10000 with a NaN
    // every 7th row, so every second-half chunk withholds its bounds
    val data = s.range(0, n, 1, 1).select(col("id"),
      when(col("id") < n / 2, col("id").cast("double"))
        .when(col("id") % 7 === 0, lit(Double.NaN))
        .otherwise(col("id").cast("double") + 10000.0).as("k"))
    SnapshotStore.append(data, root)
    val walk = Files.walk(Paths.get(root, "data"))
    val parquet = try walk.iterator.asScala
      .filter(_.toString.endsWith(".parquet")).toVector
      finally walk.close()
    assert(parquet.size === 1)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(parquet.head.toUri),
      s.sessionState.newHadoopConf()))
    val kStats = try reader.getFooter.getBlocks.asScala.toSeq
      .map(_.getColumns.get(1).getStatistics.hasNonNullValue)
      finally reader.close()
    // the premise: a clean chunk with bounds, and chunks without them
    assert(kStats.size >= 2 && kStats.head && !kStats.last,
      s"expected clean then withheld k chunks: $kStats")
    // a second group inside the range, so the scan is not empty
    SnapshotStore.append(s.range(-1, 0).select(col("id"),
      lit(13000.5).as("k")), root)
    val got = SnapshotStore.readWhere(spark, root, "k", 12500.0, 13500.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === (2500L to 3500L).filter(_ % 7 != 0).toSet + -1L)
  }

  test("the logged schema equals the footer union of the live groups " +
    "at every version, across every write path") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def check(root: String): Unit = {
      val last = SnapshotStore.history(root).last._1
      (0 to last).foreach { v =>
        val files = SnapshotStore.read(spark, root, Some(v)).inputFiles
        val footers = spark.read.option("mergeSchema", "true")
          .parquet(files: _*).schema
        assert(SnapshotStore.schemaAt(root, Some(v)).sortBy(_.name) ===
          footers.sortBy(_.name), s"version $v of $root")
      }
    }
    // append chain, add-column evolution, upsert, compaction
    val a = freshRoot()
    SnapshotStore.append(df(1, 2), a)
    SnapshotStore.append(df(3), a)
    SnapshotStore.append(
      Seq((4L, "r4", 4.0)).toDF("id", "tag", "score"), a)
    SnapshotStore.upsert(spark,
      Seq((1L, "UP", 1.5, 7)).toDF("id", "tag", "score", "n"), a, "id")
    SnapshotStore.compact(spark, a)
    SnapshotStore.deleteWhere(spark, a, "id", 3.0, 3.0)
    check(a)
    // overwrite across a retype, then a clustered append
    val b = freshRoot()
    SnapshotStore.append(df(1, 2), b)
    SnapshotStore.overwrite(Seq(("x", 1.0)).toDF("id", "score"), b)
    SnapshotStore.appendClustered(
      (1 to 40).map(i => (s"k$i", i.toDouble)).toDF("id", "score"),
      b, "score", 4)
    SnapshotStore.compact(spark, b, clusterCol = "score", nFiles = 2)
    check(b)
    // the change feed refuses to diff across the retype
    val e = intercept[IllegalArgumentException](
      SnapshotStore.changes(spark, b, 0, 1))
    assert(e.getMessage.contains("column retype"))
    // non-nullable and nested source columns
    val nested = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("p", StructType(Seq(
        StructField("x", LongType, nullable = false),
        StructField("y", StringType))), nullable = false)))
    def rows(ids: Long*) = spark.createDataFrame(
      java.util.Arrays.asList(ids.map(i =>
        org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(i * 2, s"y$i"))): _*),
      nested)
    val c = freshRoot()
    SnapshotStore.append(rows(1, 2), c)
    SnapshotStore.append(rows(3), c)
    SnapshotStore.upsert(spark, rows(2, 9), c, "id")
    check(c)
    assert(SnapshotStore.read(spark, c).select("p.x").collect()
      .map(_.getLong(0)).toSet === Set(2L, 4L, 6L, 18L))
  }

  test("a decimal column never prunes, and readWhere/deleteWhere on a " +
    "decimal table return exactly the rows a plain filter returns") {
    val root = freshRoot()
    def batch(lo: Long, hi: Long) = spark.range(lo, hi, 1, 2)
      .select(col("id"), (col("id") / 4).cast("decimal(12,2)").as("amt"))
    SnapshotStore.append(batch(0, 40), root)
    SnapshotStore.append(batch(40, 80), root)
    SnapshotStore.append(batch(80, 120), root)
    val all = SnapshotStore.read(spark, root)
    def ids(d: DataFrame): Set[Long] =
      d.select("id").collect().map(_.getLong(0)).toSet
    for ((c, lo, hi) <- Seq(("amt", 5.0, 12.25), ("amt", 0.0, 0.0),
        ("amt", 29.5, 40.0), ("id", 33.0, 87.0))) {
      assert(ids(SnapshotStore.readWhere(spark, root, c, lo, hi)) ===
        ids(all.where(col(c) >= lo && col(c) <= hi)), s"$c in [$lo, $hi]")
    }
    // no stats entry for the decimal column: every file stays in scan
    assert(SnapshotStore.readWhere(spark, root, "amt", 0.0, 0.0)
      .inputFiles.length === all.inputFiles.length)
    val keep = ids(all.where(!(col("amt") >= 10.0 && col("amt") <= 20.0)))
    SnapshotStore.deleteWhere(spark, root, "amt", 10.0, 20.0)
    assert(idSet(SnapshotStore.read(spark, root)) === keep)
    assert(keep.size === 120 - 41)
  }
}
