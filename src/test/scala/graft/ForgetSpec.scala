package graft

import graft.operators.Dedup
import graft.sources.{IndexStore, PostingsStore, SignatureStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Right-to-be-forgotten across the three persistent stores: physical
  * deletion must equal the logical filter exactly, touch only the
  * partitions that hold the ids, and keep store statistics exact.
  */
class ForgetSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def tmp(p: String): String =
    java.nio.file.Files.createTempDirectory(p).toString

  test("IndexStore.forget equals searchFiltered over the survivors, rewrites only hit lists") {
    val sf01 = "/root/testdata/sf0.01"
    val vecs = Tables.embeddings(spark, sf01)
      .select(col("vec_id"), col("embedding"))
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val p = tmp("graft_forget_ivf_")
    IndexStore.build(vecs, p, dim = 64, nlist = 8, m = 8, kcode = 16, iters = 3)

    val del = vecs.filter(col("vec_id") % 17 === 3).select(col("vec_id"))
    val delSet = del.as[Long].collect().toSet
    assert(delSet.nonEmpty)

    // logical reference BEFORE deletion: filter to survivors
    val survivors = vecs.select(col("vec_id"))
      .filter(!col("vec_id").isin(delSet.toSeq.map(java.lang.Long.valueOf): _*))
    val want = IndexStore.open(spark, p)
      .searchFiltered(queries, survivors, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))

    // record unaffected partitions' file listing to prove they were not touched
    val lp = IndexStore.listsPath(spark, p)
    val lists = spark.read.parquet(lp)
    val affected = lists.join(del, Seq("vec_id"))
      .select(col("cent_id")).distinct().as[Int].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(lp)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listing(cent: Int): Seq[(String, Long)] =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$lp/cent_id=$cent"))
        .map(s => (s.getPath.getName, s.getModificationTime)).toSeq.sorted
    val existing = fs.listStatus(new org.apache.hadoop.fs.Path(lp))
      .map(_.getPath.getName).filter(_.startsWith("cent_id="))
      .map(_.stripPrefix("cent_id=").toInt).toSeq
    val untouched = existing.filterNot(affected)
    val before = untouched.map(c => c -> listing(c)).toMap

    IndexStore.forget(spark, p, del)

    val got = IndexStore.search(spark, queries, p, k = 10, nprobe = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == want.toSeq,
      "physical forget must equal the logical survivor filter bit-for-bit")
    assert(!got.exists(r => delSet(r._3)), "deleted ids must never surface")
    untouched.foreach { c =>
      assert(listing(c) == before(c), s"unaffected list $c was rewritten")
    }
    // deleted rows are physically gone from the list table
    assert(spark.read.parquet(lp).join(del, Seq("vec_id")).count() == 0)
  }

  test("PostingsStore.forget equals a rebuild from the remaining docs") {
    val docs = Tables.documents(spark, sf)
    val del = docs.filter(col("doc_id") % 13 === 2).select(col("doc_id"))
    assert(del.count() > 0)

    val pForget = tmp("graft_forget_post_")
    PostingsStore.build(docs, pForget)
    val removed = PostingsStore.forget(spark, pForget, del)
    assert(removed == del.count())

    val pRebuild = tmp("graft_forget_post_rb_")
    PostingsStore.build(docs.join(del, Seq("doc_id"), "left_anti"), pRebuild)

    val terms = Seq("the", "data", "spark")
    val got = PostingsStore.search(spark, pForget, terms, k = 30)
      .as[(Long, Long, Double)].collect().toSeq
    val want = PostingsStore.search(spark, pRebuild, terms, k = 30)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == want,
      "df, tf, dl and avgdl after forget must all equal the rebuilt store")

    // second forget of the same ids is a no-op returning 0
    assert(PostingsStore.forget(spark, pForget, del) == 0L)
  }

  test("SignatureStore.forget tombstones immediately; compactTombstones folds them in") {
    val docs = Tables.docsAug(spark, sf).filter(col("doc_id") % 3 === 0)
    val table = "sig_forget_t"
    Seq(table, s"${table}_del", s"${table}_compact_tmp").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
    }
    SignatureStore.build(docs, table)

    val del = docs.filter(col("doc_id") >= 1000000L).select(col("doc_id"))
    assert(del.count() > 0)
    val want = Dedup.minhashPairsFrom(
      Dedup.minhashSignatures(Dedup.shingleDocs(
        docs.join(del, Seq("doc_id"), "left_anti"))))
      .as[(Long, Long, Double)].collect().toSeq.sorted

    SignatureStore.forget(del, table)
    val gotLive = SignatureStore.pairs(spark, table)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(gotLive == want,
      "tombstoned pairs must equal pairs over the remaining corpus")

    SignatureStore.compactTombstones(spark, table)
    assert(!spark.catalog.tableExists(s"${table}_del"))
    assert(spark.table(table).join(del, Seq("doc_id")).count() == 0,
      "compaction must physically remove tombstoned signatures")
    val gotCompacted = SignatureStore.pairs(spark, table)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(gotCompacted == want)
  }

  test("re-ingesting a forgotten doc supersedes its tombstone") {
    val docs = Tables.docsAug(spark, sf).filter(col("doc_id") % 5 === 0)
    val table = "sig_reingest_t"
    Seq(table, s"${table}_del", s"${table}_del_next", s"${table}_compact_tmp")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val victim = docs.filter(col("doc_id") === 0L)
    SignatureStore.build(docs.filter(col("doc_id") =!= 0L), table)
    SignatureStore.forget(victim.select(col("doc_id")), table)
    // takedown reversed: the doc arrives again via normal ingest
    SignatureStore.append(victim, table)
    val wantAll = Dedup.minhashPairsFrom(
      Dedup.minhashSignatures(Dedup.shingleDocs(docs)))
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val live = SignatureStore.pairs(spark, table)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(live == wantAll,
      "a re-ingested doc must be visible immediately after append")
    // and compaction must KEEP it (the tombstone was superseded)
    SignatureStore.compactTombstones(spark, table)
    assert(spark.table(table).filter(col("doc_id") === 0L).count() > 0,
      "compaction must not erase a re-ingested doc")
    val after = SignatureStore.pairs(spark, table)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    assert(after == wantAll)
  }

  test("a signature or tombstone swap stopped before its rename is rolled forward") {
    val docs = Tables.docsAug(spark, sf).filter(col("doc_id") % 3 === 0)
    val table = "sig_swap_t"
    Seq(table, s"${table}_next", s"${table}_del", s"${table}_del_next")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    SignatureStore.build(docs, table)
    def pairsOver(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashPairsFrom(Dedup.minhashSignatures(Dedup.shingleDocs(d)))
        .as[(Long, Long, Double)].collect().toSeq.sorted
    def live = SignatureStore.pairs(spark, table)
      .as[(Long, Long, Double)].collect().toSeq.sorted
    val a = docs.filter(col("doc_id") >= 1000000L).select(col("doc_id"))
    val b = docs.filter(col("doc_id") < 1000000L && col("doc_id") % 2 === 0)
      .select(col("doc_id"))
    val wantA = pairsOver(docs.join(a, Seq("doc_id"), "left_anti"))
    val wantAB = pairsOver(docs.join(a.unionAll(b), Seq("doc_id"), "left_anti"))
    assert(wantA != pairsOver(docs) && wantAB != wantA, "forgetting must change the pairs")

    SignatureStore.forget(a, table)
    // appendSignatures' tombstone swap dropped `_del` and stopped
    spark.sql(s"ALTER TABLE ${table}_del RENAME TO ${table}_del_next")
    assert(live == wantA, "stranded tombstones must still hide their docs")
    spark.sql(s"ALTER TABLE ${table}_del RENAME TO ${table}_del_next")
    SignatureStore.forget(b, table)
    // compactTombstones' signature swap dropped the table and stopped
    spark.sql(s"ALTER TABLE $table RENAME TO ${table}_next")
    assert(live == wantAB, "a forget after the crash must keep the stranded tombstones")
    SignatureStore.compactTombstones(spark, table)
    assert(!spark.catalog.tableExists(s"${table}_del"))
    assert(live == wantAB)
  }
}
