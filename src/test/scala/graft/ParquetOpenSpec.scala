package graft

import graft.sources.{Layout, LayoutManifest, Parquet, Testdata, VectorStore}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.JobCount

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** [[Parquet]] opens files under the schema Spark's inference would give,
  * read from a footer on the driver, so opening runs no job; Spark's own
  * inference stays where the footer cannot reproduce it.
  */
class ParquetOpenSpec extends SparkSpec {

  /** A byte-identical copy of the sf0.01 testdata tables (TESTDATA.md). */
  private val sf = "perfbench/fixture/sf0.01"
  private val tables = Seq("customer", "documents", "embeddings", "events",
    "lineitem", "nation", "orders", "part", "region", "supplier")
  private val nanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val old = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  private def committedLayout(): String = {
    val dir = tmp("graft_open_layout")
    spark.range(200).select(col("id").as("k"), (col("id") % 7).cast("string").as("tag"),
        array(col("id").cast("float"), lit(1f)).as("embedding"))
      .repartition(2).write.mode("overwrite").parquet(dir)
    Layout.commitLayout(spark, dir, Seq("k"))
    Layout.appendCommitted(spark.range(200, 260).select(col("id").as("k"),
      lit("new").as("tag"), array(col("id").cast("float"), lit(2f)).as("embedding")), dir)
    dir
  }

  test("footer schema equals Spark's inferred schema: every sf0.01 table and a committed layout") {
    assert(Files.isDirectory(Paths.get(sf)), s"fixture missing: $sf")
    // the timestamp tables (events, lineitem, orders) convert differently
    // under nanosAsLong, which Testdata.table turns on
    Seq("true", "false").foreach { nanos =>
      withConf(nanosAsLong, nanos) {
        tables.foreach { t =>
          val p = s"$sf/$t.parquet"
          assert(Parquet.footerSchema(spark, Seq(p)).contains(spark.read.parquet(p).schema),
            s"$t, nanosAsLong=$nanos")
        }
      }
    }
    val dir = committedLayout()
    val files = LayoutManifest.current(spark, dir).get.files
      .map(e => LayoutManifest.dataPath(dir, e.name))
    assert(files.size > 2)
    assert(Parquet.footerSchema(spark, files).contains(spark.read.parquet(files: _*).schema))
    assert(LayoutManifest.readData(spark, dir).schema == spark.read.parquet(files: _*).schema)
    assert(LayoutManifest.readData(spark, dir).count() == 260)
  }

  test("opening a table, a committed layout and a stored collection fires no job") {
    val dir = committedLayout()
    val store = tmp("graft_open_store")
    VectorStore.fromEmbeddingsTable(spark, sf).persist(store, shardSize = 300)
    Seq[(String, () => Any)](
      "Testdata.table" -> (() => Testdata.table(spark, sf, "events")),
      "LayoutManifest.readData" -> (() => LayoutManifest.readData(spark, dir)),
      "VectorStore.load" -> (() => VectorStore.load(spark, store))
    ).foreach { case (what, open) =>
      assert(JobCount(spark)(open())._2 == 0, what)
    }
    // ... and before, Spark's inference ran one
    assert(JobCount(spark)(spark.read.parquet(store))._2 == 1)
  }

  test("getVector: one job for a present id and for an absent one, which still throws") {
    val store = tmp("graft_open_lookup")
    VectorStore.fromEmbeddingsTable(spark, sf).persist(store, shardSize = 300)
    val vs = VectorStore.load(spark, store)
    assert(vs.df.rdd.getNumPartitions > 1)
    val id = vs.df.select("id").orderBy(col("id").desc).head().getString(0)
    val expected = vs.df.filter(col("id") === id).select("embedding").head()
      .getSeq[Float](0).toArray
    val (got, jobsPresent) = JobCount(spark)(vs.getVector(id))
    assert(got.sameElements(expected) && jobsPresent == 1)
    val (err, jobsAbsent) = JobCount(spark)(
      intercept[NoSuchElementException](vs.getVector("no-such-id")))
    assert(err.getMessage == "Unique ID does not exist." && jobsAbsent == 1)
  }

  test("insertBatch: the duplicate check is one job, with or without a duplicate") {
    val store = tmp("graft_open_insert")
    VectorStore.fromEmbeddingsTable(spark, sf).persist(store, shardSize = 300)
    val vs = VectorStore.load(spark, store)
    assert(vs.df.rdd.getNumPartitions > 1)
    val id = vs.df.select("id").orderBy(col("id").desc).head().getString(0)
    val emb = Seq.fill(64)(0.5f)
    val (grown, jobsNew) = JobCount(spark)(vs.insertBatch(Seq("new-a", "new-b"), Seq(emb, emb)))
    assert(jobsNew == 1 && grown.count() == vs.count() + 2)
    val (err, jobsDup) = JobCount(spark)(
      intercept[IllegalArgumentException](vs.insertBatch(Seq("new-c", id), Seq(emb, emb))))
    assert(err.getMessage == "Unique ID already exists." && jobsDup == 1)
  }

  test("fallbacks: partitioned streaming output, empty input and mergeSchema keep Spark's inference") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // a hive-partitioned streaming sink: the partition column lives in
    // directory names and the sink log decides which files exist
    val out = tmp("graft_open_stream")
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("v", "p").writeStream.format("parquet")
      .partitionBy("p").option("checkpointLocation", tmp("graft_open_ckpt"))
      .start(out)
    try {
      in.addData((1L, "a"), (2L, "b"), (3L, "a"))
      q.processAllAvailable()
    } finally q.stop()
    assert(Parquet.footerSchema(spark, Seq(out)).isEmpty)
    val streamed = Parquet.read(spark, out)
    assert(streamed.schema == spark.read.parquet(out).schema)
    assert(streamed.columns.toSeq == Seq("v", "p"))
    assert(streamed.filter(col("p") === "a").count() == 2)

    // empty input: Spark's "Unable to infer schema" error, unchanged
    val empty = tmp("graft_open_empty")
    val ours = intercept[AnalysisException](Parquet.read(spark, empty))
    assert(ours.getMessage.contains("Unable to infer schema"))
    assert(ours.getMessage == intercept[AnalysisException](spark.read.parquet(empty)).getMessage)

    // two files with different columns: without mergeSchema the first file
    // in path order wins (not the first path given), exactly as in Spark
    val base = tmp("graft_open_merge")
    Seq((1L, "x")).toDF("a", "b").write.parquet(s"$base/d1")
    Seq((2L, 2.5)).toDF("a", "c").write.parquet(s"$base/d0")
    val paths = Seq(s"$base/d1", s"$base/d0")
    assert(Parquet.read(spark, paths: _*).schema == spark.read.parquet(paths: _*).schema)
    assert(Parquet.read(spark, paths: _*).columns.toSeq == Seq("a", "c"))
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(Parquet.footerSchema(spark, paths).isEmpty)
      assert(Parquet.read(spark, paths: _*).columns.toSet == Set("a", "b", "c"))
    }
  }

  test("every Parquet open in the program goes through sources.Parquet") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"program sources not found under ${root.toAbsolutePath}")
    val helper = root.resolve("graft/sources/Parquet.scala")
    val direct = """\.read\s*\.parquet\(""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != helper)
      .filter(p => direct.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"open Parquet with graft.sources.Parquet.read (no schema-inference job): $offenders")
  }

  /** The bodies of `defs` in `source`, from each `def` to the next scaladoc. */
  private def defBodies(source: String): Map[String, String] = {
    val starts = """\n  (?:private(?:\[\w+\])? )?def (\w+)""".r.findAllMatchIn(source).toSeq
    starts.map { m =>
      val end = source.indexOf("\n  /**", m.end) match { case -1 => source.length; case i => i }
      m.group(1) -> source.substring(m.start, end)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  test("manifest reads build their relation from the manifest, never through spark.read") {
    val src = Files.readString(Paths.get("src/main/scala/graft/sources/LayoutManifest.scala"))
    val bodies = defBodies(src)
    val reading = """spark\s*\.\s*read\b|Parquet\s*\.\s*read\(""".r
    def body(d: String) = bodies.getOrElse(d, fail(s"LayoutManifest.$d not found"))
    // a committed manifest's files are opened only by `relation`
    Seq("readData", "readDataAt").foreach { d =>
      assert(body(d).linesIterator.exists(_.trim == "case Some(m) if m.files.nonEmpty => relation(spark, path, m)"),
        s"LayoutManifest.$d opens a manifest's files other than through relation")
    }
    assert(reading.findFirstIn(body("relation")).isEmpty, "LayoutManifest.relation opens through spark.read")
    assert(reading.findFirstIn(body("readDataAt")).isEmpty, "LayoutManifest.readDataAt opens through spark.read")
    // the one directory read is readData's fallback for a layout with no manifest
    val fallback = body("readData").linesIterator.filter(l => reading.findFirstIn(l).nonEmpty).map(_.trim).toSeq
    assert(fallback == Seq("case None => Parquet.read(spark, path)"), fallback)
  }

  test("Layout writes layout data only through stageIn, so every committed file carries the id bloom") {
    val src = Files.readString(Paths.get("src/main/scala/graft/sources/Layout.scala"))
    val writers = defBodies(src).collect {
      case (d, body) if """\.write\b""".r.findFirstIn(body).nonEmpty => d }.toSet
    // the bloom sidecar lives under _graft/ and is not layout data
    assert(writers == Set("stageIn", "writeSidecarDf"), s"writes outside stageIn: $writers")
  }

  test("no program code under graft runs jobs below the Dataset API") {
    // the one bounded collect (org.apache.spark.sql.graft.Bridge.collectUpTo)
    // is the only place that executes a physical plan or submits a job itself
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"program sources not found under ${root.toAbsolutePath}")
    val below = """executedPlan\s*\.execute\(\)|runJob\(|submitJob\(""".r
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filter(p => below.findFirstIn(Files.readString(p)).nonEmpty)
      .map(p => root.relativize(p).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"collect through org.apache.spark.sql.graft.Bridge.collectUpTo: $offenders")
  }
}
