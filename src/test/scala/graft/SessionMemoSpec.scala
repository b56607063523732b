package graft

import graft.spark.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The memo-index eviction hook: a long-lived service tears down a
  * session's artifacts with ONE call; other sessions' entries and
  * storage stay untouched. */
class SessionMemoSpec extends SparkSpecBase {

  test("evictAll releases a session's persisted entries and leaves other sessions' alone") {
    val memo = new SessionMemo[String, DataFrame]("spec.memo")(_.unpersist(): Unit)
    val other = spark.newSession()
    var builds = 0
    // distinct row counts per session: sessions share the CacheManager,
    // and an identical logical plan would dedupe to ONE cache entry —
    // the spec needs two independent cached relations
    def build(s: org.apache.spark.sql.SparkSession, n: Int): DataFrame = {
      builds += 1
      val df = s.range(n).select(col("id"), (col("id") * 2).as("v")).persist()
      df.count()
      df
    }
    val a = memo.getOrElseUpdate(spark, "corpus")(build(spark, 1000))
    val b = memo.getOrElseUpdate(other, "corpus")(build(other, 2000))
    // memoized: a second lookup returns the same value without building
    assert(memo.getOrElseUpdate(spark, "corpus")(build(spark, 1000)) eq a)
    assert(builds == 2 && memo.size == 2)
    assert(a.storageLevel != StorageLevel.NONE, "entry should be persisted")

    val evicted = SessionMemo.evictAll(spark)
    assert(evicted >= 1, "at least this memo's entry is evicted")
    // the evicted entry's storage is FREED (unpersist ran), the other
    // session's entry is still cached
    assert(a.storageLevel == StorageLevel.NONE, "evicted entry must release its blocks")
    assert(b.storageLevel != StorageLevel.NONE, "other session's entry must survive")
    assert(memo.size == 1)

    // next access rebuilds rather than serving a freed relation
    val a2 = memo.getOrElseUpdate(spark, "corpus")(build(spark, 1000))
    assert(builds == 3 && (a2 ne a))
    SessionMemo.evictAll(spark)
    SessionMemo.evictAll(other)
  }

  test("one key built in two sessions holds two entries; evicting one session keeps the other's") {
    val memo = new SessionMemo[String, org.apache.spark.sql.SparkSession]("spec.sessions")(_ => ())
    val other = spark.newSession()
    var builds = 0
    def build(s: org.apache.spark.sql.SparkSession) = { builds += 1; s }
    assert(memo.getOrElseUpdate(spark, "corpus")(build(spark)) eq spark)
    assert(memo.getOrElseUpdate(other, "corpus")(build(other)) eq other)
    assert(builds == 2 && memo.size == 2, "each session builds its own entry")
    SessionMemo.evictAll(other)
    assert(memo.size == 1)
    // this session's entry is still served without a rebuild
    assert(memo.getOrElseUpdate(spark, "corpus")(build(spark)) eq spark)
    assert(builds == 2)
    SessionMemo.evictAll(spark)
    assert(memo.size == 0)
  }

  test("evictAll counts every evicted entry, also when two memos evict one each") {
    // a fresh session, so no other memo holds an entry for it
    val s = spark.newSession()
    val m1 = new SessionMemo[String, Int]("spec.count.a")(_ => ())
    val m2 = new SessionMemo[String, Int]("spec.count.b")(_ => ())
    m1.getOrElseUpdate(s, "corpus")(1)
    m2.getOrElseUpdate(s, "corpus")(2)
    assert(SessionMemo.evictAll(s) == 2)
    assert(m1.size == 0 && m2.size == 0)
  }

  test("eviction runs the custom release action (scratch-dir wipe)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_memo_spec").toFile
    val marker = new java.io.File(dir, "seg/part-0")
    marker.getParentFile.mkdirs()
    assert(marker.createNewFile())
    val memo = new SessionMemo[String, String]("spec.paths")(p =>
      graft.operators.Formats.wipe(p))
    memo.getOrElseUpdate(spark, "idx")(dir.getAbsolutePath)
    assert(marker.exists())
    SessionMemo.evictAll(spark)
    assert(!dir.exists(), "release action must wipe the segment directory")
  }
}
