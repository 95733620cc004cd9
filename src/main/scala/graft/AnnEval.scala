package graft

import graft.sources.Parquet
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** ANN recall/cost evaluation — measures every approximate-search dial
  * against exact brute force on the same corpus: sign-LSH probe radius,
  * IVF nprobe, binary rerank budget. Emits a markdown table (captured into
  * ANN_EVAL.md): recall@k averaged over Q queries, plus the scanned
  * fraction (candidate rows / corpus) the knob buys it with.
  *
  * This is the "measure, don't guess" artifact for the approximate paths:
  * correctness queries pin their math (oracles replicate the bucket
  * arithmetic), this pins their QUALITY — which depends on data geometry
  * (near-orthogonal corpora like the synthetic testdata need wider probes
  * than clustered real embeddings would).
  *
  * Run: `sbt "runMain graft.AnnEval [sfDir] [Q]"`.
  */
object AnnEval {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val numQ = if (args.length > 1) args(1).toInt else 20
    val k = 10
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", 8)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val embs = Parquet.read(spark, s"$sfDir/embeddings.parquet").cache()
    val n = embs.count().toDouble
    val queries: Seq[(Long, Seq[Float])] = embs.filter(col("vec_id") < numQ)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq

    def exactTop(q: Seq[Float]): Set[String] =
      operators.Search.findMostSimilar(
          sources.VectorStore.fromEmbeddingsTable(spark, sfDir), q, k = k)
        .select("id").collect().map(_.getString(0)).toSet
    val truth: Map[Long, Set[String]] = queries.map { case (id, q) => id -> exactTop(q) }.toMap

    def evalRow(name: String, hits: Seq[(Long, Set[String])], scanned: Double): Unit = {
      val recall = hits.map { case (qid, got) =>
        truth(qid).intersect(got).size.toDouble / truth(qid).size
      }.sum / hits.size
      println(f"| $name | $recall%.3f | ${scanned}%.3f |")
    }

    println(s"# ANN recall/cost at $sfDir (n=${n.toInt}, Q=${queries.size}, k=$k)\n")
    println("| method | recall@10 | scanned fraction |\n|---|---|---|")

    // sign-LSH multiprobe radius sweep
    val planes = operators.AnnSearch.hyperplanes(dim = 64)
    val indexed = operators.AnnSearch.index(embs, col("embedding"), planes).cache()
    for (radius <- 0 to 3) {
      val hits = queries.map { case (qid, q) =>
        val got = operators.AnnSearch.search(indexed, col("vec_id").cast("string"),
            col("embedding"), q, planes, k = k, probeRadius = radius)
          .select("id").collect().map(_.getString(0)).toSet
        qid -> got
      }
      val scanned = queries.map { case (_, q) =>
        val probes = operators.AnnSearch.probeBuckets(
          operators.AnnSearch.bucketOf(q, planes), planes.length, radius)
        indexed.filter(col("bucket").isin(probes: _*)).count() / n
      }.sum / queries.size
      evalRow(s"sign-LSH radius $radius", hits, scanned)
    }

    // planesFor dial sweep (round 7): what the occupancy-held plane count
    // trades. Each +1 bit halves the per-probe scanned fraction; at a fixed
    // radius it also sheds recall (fewer same-bucket collisions), and +1
    // radius buys the recall back at a quadratic-in-b probe count — far
    // cheaper than the 2x-per-bit a coarser dial pays in scan volume. The
    // dial's pick for this corpus is printed alongside so the table reads
    // as an operating curve, not a single point.
    println(f"\nplanesFor(n=${n.toInt}): target 256 -> " +
      s"${operators.AnnSearch.planesFor(n.toLong, 256)} planes, " +
      s"target 64 -> ${operators.AnnSearch.planesFor(n.toLong, 64)} planes\n")
    println("| planes x radius | recall@10 | scanned fraction |\n|---|---|---|")
    for (b <- Seq(6, 8, 10, 12)) {
      val ps = operators.AnnSearch.hyperplanes(dim = 64, numPlanes = b)
      val idx = operators.AnnSearch.index(embs, col("embedding"), ps).cache()
      for (radius <- 1 to 3) {
        val hits = queries.map { case (qid, q) =>
          val got = operators.AnnSearch.search(idx, col("vec_id").cast("string"),
              col("embedding"), q, ps, k = k, probeRadius = radius)
            .select("id").collect().map(_.getString(0)).toSet
          qid -> got
        }
        val scanned = queries.map { case (_, q) =>
          val probes = operators.AnnSearch.probeBuckets(
            operators.AnnSearch.bucketOf(q, ps), b, radius)
          idx.filter(col("bucket").isin(probes: _*)).count() / n
        }.sum / queries.size
        evalRow(s"b=$b radius $radius", hits, scanned)
      }
      idx.unpersist()
    }

    // IVF nprobe sweep
    val cents = operators.IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 16)
    val ivf = operators.IvfSearch.index(embs, col("embedding"), cents).cache()
    for (nprobe <- Seq(1, 2, 4, 8, 16)) {
      val hits = queries.map { case (qid, q) =>
        val got = operators.IvfSearch.search(ivf, col("vec_id").cast("string"),
            col("embedding"), q, cents, k = k, nprobe = nprobe)
          .select("id").collect().map(_.getString(0)).toSet
        qid -> got
      }
      val scanned = queries.map { case (_, q) =>
        val probes = operators.IvfSearch.probeLists(q, cents, nprobe)
        ivf.filter(col("list_id").isin(probes: _*)).count() / n
      }.sum / queries.size
      evalRow(s"IVF nprobe $nprobe/16", hits, scanned)
    }

    // binary Hamming rerank-budget sweep (coarse pass reads every row but
    // only 8 bytes of it; "scanned" here = exact-rerank fraction)
    val bin = operators.Quantized.binarize(embs, col("embedding"), dim = 64).cache()
    for (budget <- Seq(20, 50, 100, 200)) {
      val hits = queries.map { case (qid, q) =>
        val got = operators.Quantized.binarySearch(bin, col("vec_id").cast("string"),
            col("embedding"), q, k = k, rerank = budget)
          .select("id").collect().map(_.getString(0)).toSet
        qid -> got
      }
      evalRow(s"binary rerank $budget", hits, budget / n)
    }

    // PQ sweep: codes-only ADC ranking and exact-rerank budgets, for both
    // codebook sources (deterministic lowest-id rows vs per-subspace Lloyd).
    // "scanned" column = float rows read per query (0 for pure ADC — the
    // scan touches only the 8-byte code arrays; the I/O story at 100 TB).
    println("\n| PQ m=8 ks=16 | recall@10 | float rows read |\n|---|---|---|")
    for ((label, cb) <- Seq(
        "ids" -> operators.Pq.codebooksFromIds(embs, col("vec_id"), col("embedding"), m = 8, ks = 16),
        "lloyd" -> operators.Pq.train(embs, col("vec_id"), col("embedding"), m = 8, ks = 16))) {
      val enc = operators.Pq.encode(embs, col("embedding"), cb).cache()
      val adcHits = queries.map { case (qid, q) =>
        qid -> operators.Pq.search(enc, col("vec_id").cast("string"),
            q.map(_.toDouble), cb, k = k)
          .select("id").collect().map(_.getString(0)).toSet
      }
      evalRow(s"PQ-$label ADC only", adcHits, 0.0)
      for (budget <- Seq(20, 50, 100)) {
        val hits = queries.map { case (qid, q) =>
          qid -> operators.Pq.searchRefined(enc, col("vec_id").cast("string"),
              col("embedding"), q, cb, k = k, rerank = budget)
            .select("id").collect().map(_.getString(0)).toSet
        }
        evalRow(s"PQ-$label rerank $budget", hits, budget / n)
      }
      enc.unpersist()
    }

    // IVF-PQ sweep: residual-coded lists — nprobe × rerank grid. "float
    // rows read" = the rerank budget (the ADC stage reads codes only);
    // recall composes the coarse-pruning miss and the code-resolution miss.
    println("\n| IVF-PQ C=8 m=8 ks=16 | recall@10 | float rows read |\n|---|---|---|")
    val ipCents = operators.IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c = 8)
    val ipCb = operators.IvfPq.residualCodebooks(
      embs, col("vec_id"), col("embedding"), ipCents, m = 8, ks = 16)
    val ipIdx = operators.IvfPq.index(embs, col("embedding"), ipCents, ipCb).cache()
    for (nprobe <- Seq(1, 2, 3, 4, 8); budget <- Seq(40, 100)) {
      val hits = queries.map { case (qid, q) =>
        qid -> operators.IvfPq.search(ipIdx, col("vec_id").cast("string"),
            col("embedding"), q, ipCents, ipCb, k = k, nprobe = nprobe, rerank = budget)
          .select("id").collect().map(_.getString(0)).toSet
      }
      evalRow(s"IVF-PQ nprobe $nprobe/8 rerank $budget", hits, budget / n)
    }
    ipIdx.unpersist()

    // semantic-dedup pair recall: cluster-blocked near-dup pairs vs the
    // exact all-pairs ground truth, across cluster counts — quantifies the
    // cross-cluster-miss trade the blocking accepts, and the compare-count
    // fraction it buys (Σ|c|·(|c|−1)/2 over n·(n−1)/2)
    println("\n| semantic dedup | pair recall | compare fraction |\n|---|---|---|")
    val tau = 0.4
    val truthPairs = operators.Dedup.cosinePairs(embs, col("vec_id"), col("embedding"), tau)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = n * (n - 1) / 2.0
    for (c <- Seq(4, 8, 16, 32, 64)) {
      val cc = operators.IvfSearch.centroidsFromIds(embs, col("vec_id"), col("embedding"), c)
      val idx = operators.IvfSearch.index(
        embs.select(col("vec_id"), col("embedding")), col("embedding"), cc)
      val got = idx.as("a").join(idx.as("b"),
          col("a.list_id") === col("b.list_id") && col("a.vec_id") < col("b.vec_id") &&
            functions.VectorFunctions.cosine(col("a.embedding"), col("b.embedding")) >= tau)
        .select(col("a.vec_id"), col("b.vec_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val compares = idx.groupBy("list_id").count().collect()
        .map(r => { val s = r.getLong(1).toDouble; s * (s - 1) / 2 }).sum / allPairs
      val recall =
        if (truthPairs.isEmpty) 1.0
        else truthPairs.intersect(got).size.toDouble / truthPairs.size
      println(f"| C=$c | $recall%.3f | $compares%.3f |")
    }

    // label-noise screen: flag agreement of the LSH-blocked tier vs the
    // exact-grid screen across probe radii — quantifies how many verdicts
    // the sub-quadratic ingest path changes, and the candidate fraction
    // it pays (probes/2^planes)
    println("\n| label-noise screen | flag agreement | candidate fraction |\n|---|---|---|")
    val exactScreen = operators.Search.labelAgreement(
        embs, col("vec_id"), col("embedding"), col("label"), k = 6)
      .select("id", "noisy").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val lnPlanes = operators.AnnSearch.hyperplanes(dim = 64, numPlanes = 10)
    for (radius <- 0 to 2) {
      val got = operators.Search.labelAgreementLsh(embs, col("vec_id"),
          col("embedding"), col("label"), lnPlanes, k = 6,
          probeRadius = radius)
        .select("id", "noisy").collect()
        .map(r => r.getLong(0) -> r.getInt(1))
      val agree = got.count { case (i, nz) => exactScreen(i) == nz }.toDouble / got.length
      val frac = operators.AnnSearch.xorMasks(10, radius).length / 1024.0
      println(f"| LSH 10 planes, radius $radius | $agree%.3f | $frac%.3f |")
    }

    spark.stop()
  }
}
