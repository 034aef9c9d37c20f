package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{MergeWriter, Reconcile, Upsert}

class MergeReconcileSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private lazy val target = Seq(
    (1L, "gold", 100L), // updated below
    (2L, "iron", 200L), // carried over untouched
    (3L, "lead", 300L)  // deleted below
  ).toDF("id", "grade", "cents")

  private lazy val updates = Seq(
    (1L, "platinum", 150L, false), // update wins per column
    (3L, "lead", 300L, true),      // delete flag
    (9L, "new", 900L, false)       // unmatched -> insert
  ).toDF("id", "grade", "cents", "gone")

  test("merge semantics: update wins, unmatched inserts, delete drops") {
    val m = MergeWriter.mergedState(target, updates, "id", Some("gone"))
      .orderBy("id").collect()
    assert(m.map(_.getLong(0)).toSeq == Seq(1L, 2L, 9L))
    val byId = m.map(r => r.getLong(0) -> (r.getAs[String]("grade"), r.getAs[Long]("cents"))).toMap
    assert(byId(1L) == (("platinum", 150L)))
    assert(byId(2L) == (("iron", 200L)))
    assert(byId(9L) == (("new", 900L)))
  }

  test("merge keeps target-only and update-only columns, nulled on the other side") {
    val t2 = target.withColumn("t_only", lit("t"))
    val u2 = updates.withColumn("u_only", lit("u"))
    val m = MergeWriter.mergedState(t2, u2, "id", Some("gone")).orderBy("id").collect()
    val byId = m.map(r => r.getLong(0) -> r).toMap
    assert(byId(2L).getAs[String]("t_only") == "t" && byId(2L).getAs[String]("u_only") == null)
    assert(byId(9L).getAs[String]("t_only") == null && byId(9L).getAs[String]("u_only") == "u")
  }

  test("copy-on-write apply is idempotent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_spec_").toString + "/state"
    target.write.mode("overwrite").parquet(dir)
    MergeWriter.applyTo(spark, dir, updates, "id", Some("gone"))
    val once = spark.read.parquet(dir).orderBy("id").collect().toSeq
    MergeWriter.applyTo(spark, dir, updates, "id", Some("gone"))
    val twice = spark.read.parquet(dir).orderBy("id").collect().toSeq
    assert(once == twice, "re-applying the same update batch must not change state")
    assert(once.map(_.getLong(0)) == Seq(1L, 2L, 9L))
  }

  test("partition-scoped merge rewrites only touched partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pmerge_").toString + "/state"
    Seq(
      (1L, "a", 100L), (2L, "a", 200L), // partition a: one update, one carry
      (3L, "b", 300L),                  // partition b: deleted
      (4L, "c", 400L), (5L, "c", 500L)  // partition c: UNTOUCHED
    ).toDF("id", "part", "cents")
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    def filesOf(p: String): Set[String] = {
      val d = new java.io.File(s"$dir/part=$p")
      d.list().filter(_.endsWith(".parquet")).toSet
    }
    val cBefore = filesOf("c")
    val updates = Seq(
      (1L, "a", 150L, false), // update in a
      (3L, "b", 300L, true),  // delete in b
      (9L, "d", 900L, false)  // insert into a NEW partition
    ).toDF("id", "part", "cents", "gone")
    MergeWriter.applyToPartitioned(spark, dir, updates, "id", "part", Some("gone"))
    val state = spark.read.parquet(dir).orderBy("id").collect()
      .map(r => r.getLong(0) -> (r.getAs[String]("part"), r.getAs[Long]("cents"))).toMap
    assert(state == Map(
      1L -> (("a", 150L)), 2L -> (("a", 200L)),
      4L -> (("c", 400L)), 5L -> (("c", 500L)),
      9L -> (("d", 900L))), s"merged state wrong: $state")
    assert(filesOf("c") == cBefore, "untouched partition files must be left in place")
    assert(!new java.io.File(s"$dir/part=b").exists() ||
      spark.read.parquet(dir).filter($"part" === "b").count() == 0,
      "deleted partition holds no live rows")
  }

  /** a part-partitioned (id, part, cents) table in a fresh directory */
  private def partitionedTable(prefix: String, rows: Seq[(Long, String, Long)]): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString + "/state"
    rows.toDF("id", "part", "cents").write.mode("overwrite").partitionBy("part").parquet(dir)
    dir
  }

  private def stateOf(dir: String): Map[Long, (String, Long)] =
    spark.read.parquet(dir).collect()
      .map(r => r.getAs[Long]("id") -> ((r.getAs[String]("part"), r.getAs[Long]("cents")))).toMap

  test("partition-scoped merge: an all-delete partition keeps its carried-over row") {
    val dir = partitionedTable("graft_pmerge_alldel_",
      Seq((1L, "a", 100L), (2L, "a", 200L), (3L, "b", 300L)))
    // every update row of partition a is a delete, but key 2 carries over
    val updates = Seq((1L, "a", 100L, true), (4L, "b", 400L, false))
      .toDF("id", "part", "cents", "gone")
    MergeWriter.applyToPartitioned(spark, dir, updates, "id", "part", Some("gone"))
    assert(stateOf(dir) == Map(2L -> (("a", 200L)), 3L -> (("b", 300L)), 4L -> (("b", 400L))))
  }

  test("partition-scoped merge: a mixed partition loses only the deleted key") {
    val dir = partitionedTable("graft_pmerge_mixed_",
      Seq((1L, "a", 100L), (2L, "a", 200L), (3L, "a", 300L), (4L, "b", 400L)))
    val updates = Seq((1L, "a", 150L, false), (2L, "a", 200L, true))
      .toDF("id", "part", "cents", "gone")
    MergeWriter.applyToPartitioned(spark, dir, updates, "id", "part", Some("gone"))
    assert(stateOf(dir) == Map(1L -> (("a", 150L)), 3L -> (("a", 300L)), 4L -> (("b", 400L))))
  }

  test("partition-scoped merge rejects a NULL partition value and leaves the table as it was") {
    val dir = partitionedTable("graft_pmerge_null_", Seq((1L, "a", 100L), (2L, "b", 200L)))
    def files(): Set[(String, Long)] = {
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(java.nio.file.Paths.get(dir))
      try walk.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis).toSet
      finally walk.close()
    }
    val before = files()
    val updates = Seq((1L, "a", 150L, false), (3L, null, 300L, false))
      .toDF("id", "part", "cents", "gone")
    Seq(Some("gone"), None).foreach { flag =>
      val batch = if (flag.isEmpty) updates.drop("gone") else updates
      val e = intercept[IllegalArgumentException](
        MergeWriter.applyToPartitioned(spark, dir, batch, "id", "part", flag))
      assert(e.getMessage.contains("NULL part"), e.getMessage)
      assert(files() == before, s"delete flag $flag: the table files changed")
    }
    assert(stateOf(dir) == Map(1L -> (("a", 100L)), 2L -> (("b", 200L))))
  }

  test("recover rolls an interrupted swap forward or back") {
    import org.apache.hadoop.fs.Path
    val conf = spark.sparkContext.hadoopConfiguration

    // crash after staging write + live renamed aside: roll FORWARD
    val dir1 = java.nio.file.Files.createTempDirectory("graft_rec_fwd_").toString + "/state"
    val p1 = new Path(dir1)
    val fs = p1.getFileSystem(conf)
    target.write.mode("overwrite").parquet(dir1 + ".staging") // new state, has _SUCCESS
    updates.drop("gone").write.mode("overwrite").parquet(dir1 + ".bak") // old state
    MergeWriter.recover(fs, p1)
    assert(fs.exists(p1) && !fs.exists(new Path(dir1 + ".staging")) && !fs.exists(new Path(dir1 + ".bak")))
    assert(spark.read.parquet(dir1).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))

    // crash mid-staging-write (no _SUCCESS), live renamed aside: roll BACK
    val dir2 = java.nio.file.Files.createTempDirectory("graft_rec_bak_").toString + "/state"
    val p2 = new Path(dir2)
    target.write.mode("overwrite").parquet(dir2 + ".bak")
    fs.mkdirs(new Path(dir2 + ".staging")) // incomplete write: no marker
    MergeWriter.recover(fs, p2)
    assert(fs.exists(p2) && !fs.exists(new Path(dir2 + ".staging")))
    assert(spark.read.parquet(dir2).orderBy("id").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))

    // live table intact: stale leftovers are dropped, table untouched
    val dir3 = java.nio.file.Files.createTempDirectory("graft_rec_ok_").toString + "/state"
    target.write.mode("overwrite").parquet(dir3)
    fs.mkdirs(new Path(dir3 + ".staging"))
    MergeWriter.recover(fs, new Path(dir3))
    assert(!fs.exists(new Path(dir3 + ".staging")))
    assert(spark.read.parquet(dir3).count() == 3L)
  }

  test("q43 upsert instance merges orders activity and supplier inserts") {
    val dir = "/root/testdata/sf0.001"
    val out = Upsert.applyAndRead(spark, Tables.customer(spark, dir),
      Tables.orders(spark, dir), Tables.supplier(spark, dir))
    val rows = out.collect()
    assert(rows.nonEmpty)
    // inserts land under the shifted key range with the NEW segment
    val inserted = rows.filter(_.getLong(0) > 1000000L)
    assert(inserted.nonEmpty && inserted.forall(_.getAs[String]("segment") == "NEW"))
    // updated customers carry ACTIVE segment and an order count
    val active = rows.filter(r => r.getAs[String]("segment") == "ACTIVE")
    assert(active.nonEmpty && active.forall(_.getAs[Long]("n_orders") > 0L))
  }

  test("reconciliation reports the symmetric difference with side labels") {
    val a = Seq(1L, 2L, 3L).toDF("id")
    val b = Seq(2L, 3L, 4L, 5L).toDF("id")
    val rep = Reconcile.discrepancyReport(a, b, "id").collect()
    assert(rep.map(r => (r.getLong(0), r.getAs[String]("side"))).toSeq ==
      Seq((1L, "only_a"), (4L, "only_b"), (5L, "only_b")))
    val sums = Reconcile.summary(a, b, "id").collect()
      .map(r => r.getAs[String]("side") -> r.getAs[Long]("n_ids")).toMap
    assert(sums == Map("only_a" -> 1L, "only_b" -> 2L))
  }
}
