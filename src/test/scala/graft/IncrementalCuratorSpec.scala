package graft

import graft.operators.{Dedup, IncrementalCurator}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composition parity the piecewise tests can't give: after a
  * multi-batch ingest schedule, the curator's keeper frame must equal
  * the full one-shot recompute EXACTLY — same keepers, same survivor
  * set — regardless of how the corpus was sliced into batches.
  */
class IncrementalCuratorSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  // the default threshold runs the curator's small label fixpoints on
  // the driver; −1 runs every one as distributed rounds
  for ((path, t) <- Seq("" -> 10L * 1024 * 1024, ", distributed fixpoints" -> -1L))
  test(s"3-batch ingest == full recompute, row for row$path") {
    BroadcastThreshold(spark, t) {
      val docs = Tables.docsAug(spark, sf).select(col("doc_id"), col("text"))
        .localCheckpoint()
      val sigT = "ic_sigs"
      val lblT = "ic_labels"
      Seq(sigT, s"${sigT}_del", lblT, s"${lblT}_next").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))

      // slice by a hash-ish rule so clusters straddle batches (the
      // planted dups are id+1000000/id+2000000 — a mod-3 slice puts
      // original and copy in DIFFERENT batches for most ids)
      def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
      IncrementalCurator.init(spark, batch(0), sigT, lblT)
      IncrementalCurator.ingest(spark, batch(1), sigT, lblT)
      IncrementalCurator.ingest(spark, batch(2), sigT, lblT)

      val inc = IncrementalCurator.curated(spark, sigT, lblT)
        .as[(Long, Long, Boolean)].collect().toSet
      val full = Dedup.keepFrom(docs.select(col("doc_id")),
        Dedup.minhashPairs(docs).select(col("a_id"), col("b_id")))
        .as[(Long, Long, Boolean)].collect().toSet
      assert(inc == full,
        s"composition diverged: onlyInc=${(inc diff full).take(5)} " +
          s"onlyFull=${(full diff inc).take(5)}")
      // sanity: the schedule actually exercised cross-batch merging
      assert(full.exists(r => !r._3), "fixture has no duplicates to curate")

      Seq(sigT, s"${sigT}_del", lblT).foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }

  test("a failed label swap commits no signatures; a replay equals the uninterrupted run") {
    val docs = Tables.docsAug(spark, sf).select(col("doc_id"), col("text"))
      .localCheckpoint()
    def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    val (sigT, lblT) = ("icr_sigs", "icr_labels")
    val (refSig, refLbl) = ("icr_ref_sigs", "icr_ref_labels")
    def dropAll(): Unit = Seq(sigT, lblT, refSig, refLbl)
      .flatMap(t => Seq(t, s"${t}_del", s"${t}_next"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def rows(t: String) = spark.table(t).collect().map(_.toString).toSet
    dropAll()

    IncrementalCurator.init(spark, batch(0), refSig, refLbl)
    IncrementalCurator.ingest(spark, batch(1), refSig, refLbl)
    IncrementalCurator.ingest(spark, batch(2), refSig, refLbl)

    IncrementalCurator.init(spark, batch(0), sigT, lblT)
    val sigsBefore = rows(sigT)
    val lblsBefore = rows(lblT)
    // a stray directory where the swap writes `<label>_next` makes
    // saveAsTable refuse the location: the swap fails mid-ingest
    val blocker = new java.io.File(spark.sessionState.catalog.defaultTablePath(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${lblT}_next")))
    assert(blocker.mkdirs())
    java.nio.file.Files.writeString(blocker.toPath.resolve("stray"), "x")
    intercept[Exception](IncrementalCurator.ingest(spark, batch(1), sigT, lblT))
    val (sigsKept, lblsKept) = (rows(sigT) == sigsBefore, rows(lblT) == lblsBefore)
    assert(sigsKept, "signatures committed without labels")
    assert(lblsKept, "labels changed by a failed swap")

    org.apache.commons.io.FileUtils.deleteDirectory(blocker)
    IncrementalCurator.ingest(spark, batch(1), sigT, lblT)
    IncrementalCurator.ingest(spark, batch(2), sigT, lblT)
    val (sigsEq, lblsEq) = (rows(sigT) == rows(refSig), rows(lblT) == rows(refLbl))
    assert(sigsEq, "replayed signatures diverge")
    assert(lblsEq, "replayed labels diverge")
    dropAll()
  }

  test("a swap that stopped between drop and rename rolls forward; a replay equals the uninterrupted run") {
    val docs = Tables.docsAug(spark, sf).select(col("doc_id"), col("text"))
      .localCheckpoint()
    def batch(i: Int) = docs.filter(pmod(col("doc_id"), lit(3)) === i)
    val (sigT, lblT) = ("icc_sigs", "icc_labels")
    val (refSig, refLbl) = ("icc_ref_sigs", "icc_ref_labels")
    def dropAll(): Unit = Seq(sigT, lblT, refSig, refLbl)
      .flatMap(t => Seq(t, s"${t}_del", s"${t}_next"))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    def rows(t: String) = spark.table(t).collect().map(_.toString).toSet
    dropAll()

    IncrementalCurator.init(spark, batch(0), refSig, refLbl)
    IncrementalCurator.ingest(spark, batch(1), refSig, refLbl)

    // the crash: ingest's swap wrote `<label>_next` and dropped the
    // labels, but never renamed; the signatures were not yet appended
    IncrementalCurator.init(spark, batch(0), sigT, lblT)
    val pairs = graft.operators.Iterate.materialize(
      graft.sources.SignatureStore.incrementalPairsFrom(spark,
        Dedup.minhashSignatures(Dedup.shingleDocs(batch(1))), sigT)
        .select(col("a_id"), col("b_id")))
    graft.operators.Components.mergePairs(spark.table(lblT), pairs)
      .write.saveAsTable(s"${lblT}_next")
    spark.sql(s"DROP TABLE $lblT")
    assert(!spark.catalog.tableExists(lblT))

    // a reader rolls the swap forward: the merged labels take the name
    IncrementalCurator.curated(spark, sigT, lblT).collect()
    assert(rows(lblT) == rows(refLbl), "rolled-forward labels diverge")
    // the same crash again, then the replay of the whole ingest
    spark.sql(s"ALTER TABLE $lblT RENAME TO ${lblT}_next")
    IncrementalCurator.ingest(spark, batch(1), sigT, lblT)
    val (sigsEq, lblsEq) = (rows(sigT) == rows(refSig), rows(lblT) == rows(refLbl))
    assert(sigsEq, "replayed signatures diverge")
    assert(lblsEq, "replayed labels diverge")
    dropAll()
  }
}
