package graft

import org.apache.spark.sql.functions._
import graft.sources.VersionedTable

/** The table-maintenance contract: atomic versioned commits, time
  * travel, pruned-rewrite MERGE, value-identical compaction, vacuum,
  * and the optimistic-concurrency conflict rule.
  */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    java.nio.file.Files.createTempDirectory("vtab").toString

  private def rows(dir: String, asOf: Option[Int] = None): Set[(Long, String)] =
    VersionedTable.read(spark, dir, asOf)
      .select("id", "v").as[(Long, String)].collect().toSet

  test("append + time travel: every version reads exactly as committed") {
    val dir = freshDir()
    VersionedTable.append(Seq((1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").repartition(2), dir)
    VersionedTable.append(Seq((4L, "d"), (5L, "e")).toDF("id", "v"), dir)
    assert(VersionedTable.currentVersion(dir) == 1)
    assert(rows(dir) == Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d", 5L -> "e"))
    assert(rows(dir, Some(0)) == Set(1L -> "a", 2L -> "b", 3L -> "c"))
  }

  test("merge rewrites only files containing matched keys") {
    val dir = freshDir()
    // two single-row-group files per append → 4 data files, ids spread
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(2, col("id")), dir)
    VersionedTable.append(Seq((3L, "c"), (4L, "d")).toDF("id", "v")
      .repartition(2, col("id")), dir)
    val before = VersionedTable.liveFiles(dir)
    assert(before.size == 4)
    // update id=2, insert id=9 — exactly ONE existing file holds id=2
    VersionedTable.merge(spark, dir,
      Seq((2L, "B!"), (9L, "new")).toDF("id", "v"), Seq("id"))
    assert(rows(dir) ==
      Set(1L -> "a", 2L -> "B!", 3L -> "c", 4L -> "d", 9L -> "new"))
    val hist = VersionedTable.history(spark, dir)
      .orderBy("version").as[(Int, String, Long, Int, Int)].collect()
    assert(hist.map(h => (h._1, h._2)).toSeq ==
      Seq((0, "append"), (1, "append"), (2, "merge")))
    // the merge removed exactly the one touched file; untouched files
    // survive into the new snapshot untouched
    assert(hist(2)._5 == 1)
    val after = VersionedTable.liveFiles(dir)
    assert(before.count(after.contains) == 3)
    // snapshot isolation: the pre-merge version still reads the old value
    assert(rows(dir, Some(1)) ==
      Set(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  test("compact is value-identical and shrinks the file count") {
    val dir = freshDir()
    VersionedTable.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .repartition(2), dir)
    VersionedTable.append(Seq((3L, "c")).toDF("id", "v"), dir)
    val expect = rows(dir)
    assert(VersionedTable.liveFiles(dir).size == 3)
    VersionedTable.compact(spark, dir, target = 1)
    assert(VersionedTable.liveFiles(dir).size == 1)
    assert(rows(dir) == expect)
    // time travel across the compaction boundary still works…
    assert(rows(dir, Some(1)) == expect)
    // …until vacuum reclaims the dead files (3 pre-compaction files)
    val deleted = VersionedTable.vacuum(dir)
    assert(deleted.size == 3)
    assert(rows(dir) == expect)
    intercept[Throwable](rows(dir, Some(1)))
  }

  test("racing commits: one winner, one ConflictException") {
    val dir = freshDir()
    VersionedTable.append(Seq((1L, "a")).toDF("id", "v"), dir)
    // a writer picks its version from the snapshot it read…
    val v = VersionedTable.currentVersion(dir) + 1
    // …and a concurrent writer lands that version first (the conflict
    // window between version pick and commit)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_log", f"$v%08d.json"),
      """{"version":1,"op":"append","ts_ms":0,"adds":[],"removes":[]}""" + "\n")
    intercept[VersionedTable.ConflictException] {
      VersionedTable.commit(dir, VersionedTable.Entry(v, "append", 0L,
        Seq("vXXXXXXXX-00000-dead.parquet"), Nil))
    }
    // the loser's commit did not land: state is the racer's version 1,
    // and its phantom file never appears in any snapshot
    assert(VersionedTable.currentVersion(dir) == 1)
    assert(rows(dir) == Set(1L -> "a"))
  }
}
