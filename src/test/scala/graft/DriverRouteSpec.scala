package graft

import graft.operators.{Dedup, TextAnalysis}
import graft.sources.Testdata
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{Bridge, JobCount, JobFailures, SucceededTasks}

/** The bounded collect every driver route decides with
  * ([[Bridge.collectUpTo]]), and the jobs the routed operators run.
  */
class DriverRouteSpec extends SparkSpec {

  /** A byte-identical copy of the sf0.01 testdata tables (TESTDATA.md). */
  private val sf = "perfbench/fixture/sf0.01"

  test("collectUpTo: every row within the cap, None past it, one job each") {
    import testImplicits._
    val df = Seq[(Long, String, Seq[Float])]((1L, "a", Seq(1f, 2f)), (2L, null, null),
        (3L, "🍕", Seq.empty), (4L, "d", Seq(0.5f)), (5L, "e", Seq(-1f)))
      .toDF("id", "s", "v").repartition(3)
    val all = df.collect().sortBy(_.getLong(0)).toSeq
    val (within, j1) = JobCount(spark)(Bridge.collectUpTo(df, 5))
    assert(within.map(_.sortBy(_.getLong(0)).toSeq).contains(all))
    val (past, j2) = JobCount(spark)(Bridge.collectUpTo(df, 4))
    assert(past.isEmpty)
    // a local frame runs no shuffle: the collect is the only job
    val local = spark.range(0, 10, 1, 4).toDF("id")
    val (none, j3) = JobCount(spark)(Bridge.collectUpTo(local, 0))
    assert(none.isEmpty && j3 == 1)
    val (empty, j4) = JobCount(spark)(Bridge.collectUpTo(local.filter(col("id") < 0), 0))
    assert(empty.exists(_.isEmpty) && j4 == 1)
    // the repartition's shuffle stage is one more job under AQE
    assert(j1 == j2 && j1 <= 2)
  }

  test("collectUpTo: past the cap the job is cancelled, not run to the end") {
    // 16 partitions of one row each, every task but the first sleeps: the
    // first row overflows a cap of 0, and the cancelled job leaves most
    // partitions unrun
    val slow = udf((id: Long) => { if (id > 0) Thread.sleep(300); id })
    val df = spark.range(0, 16, 1, 16).select(slow(col("id")).as("id"))
    val (got, done) = SucceededTasks(spark)(Bridge.collectUpTo(df, 0))
    assert(got.isEmpty)
    assert(done < 16, s"$done of 16 tasks ran")
  }

  test("collectUpTo: a job cancelled past the cap ends with a reason that names the cap") {
    val slow = udf((id: Long) => { if (id > 0) Thread.sleep(300); id })
    val df = spark.range(0, 16, 1, 16).select(slow(col("id")).as("id"))
    val (got, failures) = JobFailures(spark)(Bridge.collectUpTo(df, 0))
    assert(got.isEmpty)
    assert(Bridge.overflowReason(0) == "collectUpTo: more than 0 rows")
    assert(failures.size == 1 && failures.head.contains(Bridge.overflowReason(0)), failures)
    // within the cap nothing is cancelled
    assert(JobFailures(spark)(Bridge.collectUpTo(spark.range(0, 4, 1, 2).toDF("id"), 10))._2.isEmpty)
  }

  test("bpeMerges: 4 merges on the sf0.01 fixture construct in at most 2 jobs") {
    // the word counts' shuffle stage and the bounded collect; a
    // job-per-round distributed loop ran 9 here
    val docs = Testdata.table(spark, sf, "documents")
    val (merges, jobs) = JobCount(spark)(TextAnalysis.bpeMerges(docs, col("text"), nMerges = 4))
    assert(jobs <= 2)
    assert(merges.count() == 4)
  }

  test("connectedComponentsAuto: the driver route runs fewer jobs than count-then-collect") {
    // q_dedup_clusters' input: MinHash-LSH pairs over the sf0.01 documents.
    // Persist + count() + collect() ran 7 jobs here; the bounded collect
    // reads the pairs once
    val docs = Testdata.table(spark, sf, "documents")
    val pairs = Dedup.minhashLshPairs(docs, col("doc_id"), col("text"), n = 2, tau = 0.5)
      .select("id_a", "id_b")
    val ((route, _), jobs) = JobCount(spark)(
      Dedup.connectedComponentsAutoRouted(docs.select(col("doc_id").as("id")), pairs))
    assert(route == "driver")
    assert(jobs == 4)
  }
}
