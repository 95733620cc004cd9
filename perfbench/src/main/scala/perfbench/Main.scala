package perfbench

/** Runs one workload and writes its report as JSON (see `run.py`, which
  * launches this and prints the benchmark's result line).
  *
  * {{{
  *   perfbench.Main --workload NAME --seed N --seconds S --trace 0|1
  *                  --bench DIR --work DIR --out FILE
  *   perfbench.Main --record-golden FILE --bench DIR --work DIR
  * }}}
  */
object Main {
  val Workloads = Seq("driver_suite", "crud_churn")
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val bench = opt("bench")
    val work = opt("work")
    val spark = Session.start(s"$work/spark")
    try {
      val h = new Harness(spark, opt.getOrElse("seed", "0").toLong, work)
      val fixture = s"$bench/fixture/sf0.01"
      val goldenPath = s"$bench/fixture/golden.tsv"
      opt.get("record-golden") match {
        case Some(out) =>
          val ds = new DriverSuite(h, fixture, Map.empty)
          ds.setup(0)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(out),
            ds.goldenLines().mkString("", "\n", "\n"))
        case None =>
          val workload = opt("workload") match {
            case "driver_suite" => new DriverSuite(h, fixture, DriverSuite.readGolden(goldenPath))
            case "crud_churn" => new CrudChurn(h)
            case other => throw new IllegalArgumentException(
              s"unknown workload '$other' (one of ${Workloads.mkString(", ")})")
          }
          val traced = opt("trace") == "1"
          val report = h.run(workload, opt("seconds").toDouble, traced, SetupReps)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json(report))
          if (traced) java.nio.file.Files.write(java.nio.file.Paths.get(opt("out") + ".spans.jsonl"),
            (h.tracer.spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
              "metric" -> s.metric, "op" -> s.opId, "start_ns" -> s.startNs, "end_ns" -> s.endNs))) ++
              h.listener.jobs.map(j => Json(Map("job" -> j.id, "parent" -> j.span,
                "start_ms" -> j.startMs, "end_ms" -> j.endMs))))
              .mkString("", "\n", "\n").getBytes("UTF-8"))
      }
    } finally spark.stop()
  }
}

/** Minimal JSON rendering of maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => s"${quote(k.toString)}:${apply(x)}" }.sorted.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
