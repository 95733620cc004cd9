package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text → dense-vector extraction interface — the engine-side analog of the
  * reference's `EmbeddingModel`
  * (/root/reference/minivectordb/embedding_model.py:84-91, ONNX USE / e5 /
  * bge-m3). Model inference itself is EXTERNAL to a zero-egress build
  * (BASELINE.md: embeddings arrive precomputed); this trait keeps the
  * interface pluggable, and [[HashingEmbedder]] provides a deterministic,
  * dependency-free implementation so the full text → vector → search path
  * is exercisable end to end.
  *
  * Batch contract mirrors how an ONNX session would be driven: one embedder
  * instance per partition, batched calls — wire through
  * [[Embedder.embedColumn]] (UDF, small inputs) or a `mapPartitions` batch
  * loop for bulk ingest.
  */
trait Embedder extends Serializable {
  def dim: Int
  def embed(text: String): Array[Float]
  def embedBatch(texts: Seq[String]): Seq[Array[Float]] = texts.map(embed)
}

/** Deterministic char-n-gram hashing embedder (signed feature hashing, the
  * same kernel as the rerank path's O14) — a real, if simple, text
  * representation: near-duplicate strings land near in cosine space.
  */
final case class HashingEmbedder(dim: Int = 64) extends Embedder {
  override def embed(text: String): Array[Float] = {
    // charNgramHash is fixed at 64 dims; fold/stretch to the requested dim
    val base = TextFeatures.charNgramHash(text)
    if (dim == base.length) base
    else {
      val out = new Array[Float](dim)
      var i = 0
      while (i < base.length) { out(i % dim) += base(i); i += 1 }
      val n = math.sqrt(out.map(x => x.toDouble * x.toDouble).sum)
      if (n > 0) { var j = 0; while (j < dim) { out(j) = (out(j) / n).toFloat; j += 1 } }
      out
    }
  }
}

/** One model-inference call: token-id batch in, embedding batch out. The
  * narrow waist between the Spark-side plumbing (partitioning, batching,
  * session lifecycle — all real and tested) and whatever runtime executes
  * the model (ONNX via [[OnnxSessionProvider]], or a test stub).
  */
trait InferenceSession extends AutoCloseable {
  /** `ids` is a rectangular [batch][seqLen] token-id matrix; returns one
    * dim-length vector per batch row. */
  def run(ids: Array[Array[Long]]): Array[Array[Float]]
}

/** Factory shipped to executors; `newSession()` runs ONCE PER PARTITION so
  * the expensive session construction (model load, graph optimization)
  * amortizes over the partition's rows — the session itself is never
  * serialized.
  */
trait InferenceSessionProvider extends Serializable {
  def newSession(): InferenceSession
}

/** [[Embedder]] over an [[InferenceSessionProvider]]: tokenize → pad to the
  * batch's max length → one `run` per batch. The tokenizer is a plain
  * function so a real model's vocabulary can be plugged; the default is a
  * whitespace-token hash (a stand-in — real quality needs the model's own
  * tokenizer, which ships as data, not code).
  *
  * Session lifecycle: created lazily on first use in the JVM/task and
  * reused for every batch of the partition ([[Embedder.embedPartitions]]
  * closes it at task end). This is the batch-indexing half of the
  * reference's O22 — the online-serving half stays external by design.
  */
final class SessionEmbedder(
    provider: InferenceSessionProvider,
    val dim: Int,
    tokenize: String => Array[Long] = SessionEmbedder.hashTokenizer,
    maxLen: Int = 128) extends Embedder with AutoCloseable {
  // not a lazy val: close() must NOT force an unused session into
  // existence — an empty partition's task-completion close would load the
  // full model from disk just to immediately release it
  @transient private var sessionOpt: Option[InferenceSession] = None
  private def session: InferenceSession = this.synchronized {
    sessionOpt.getOrElse {
      val s = provider.newSession(); sessionOpt = Some(s); s
    }
  }

  override def embed(text: String): Array[Float] = embedBatch(Seq(text)).head

  override def embedBatch(texts: Seq[String]): Seq[Array[Float]] = {
    if (texts.isEmpty) return Seq.empty
    val toks = texts.map(t => tokenize(if (t == null) "" else t).take(maxLen))
    val width = math.max(1, toks.map(_.length).max)
    val ids = toks.map(t => t ++ Array.fill(width - t.length)(0L)).map(_.toArray).toArray
    val out = session.run(ids)
    require(out.length == texts.length,
      s"runtime returned ${out.length} vectors for ${texts.length} inputs")
    out.toSeq
  }

  override def close(): Unit = this.synchronized {
    sessionOpt.foreach(_.close()); sessionOpt = None
  }
}

object SessionEmbedder {
  /** Dependency-free default tokenizer: whitespace tokens → positive-long
    * hash ids (vocabulary-free feature hashing). A real model swaps in its
    * own vocabulary here.
    *
    * The polynomial runs over CODEPOINTS mod 2^32 (Java `String.hashCode`'s
    * recurrence but per codepoint, not per UTF-16 unit — the same
    * UTF-16-vs-codepoint divergence class fixed in
    * [[graft.operators.TextAnalysis.bpeMerges]]): a surrogate-pair
    * character must hash as ONE symbol so the oracle's per-codepoint
    * replica agrees on non-BMP text. For BMP-only text this equals the
    * old hashCode-based ids exactly.
    */
  def hashTokenizer: String => Array[Long] =
    s => s.split("\\s+").filter(_.nonEmpty).map { t =>
      var h = 0L
      var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i)
        h = (h * 31L + cp) & 0xffffffffL
        i += Character.charCount(cp)
      }
      (h & 0x7fffffffL) + 1L
    }
}

/** Reflective ONNX Runtime binding — compiled WITHOUT the `ai.onnxruntime`
  * jar (this build is zero-egress; the dependency cannot resolve), bound
  * at RUNTIME when the jar is on the executor classpath. `available`
  * gates gracefully: constructing the provider on a build without the
  * runtime throws a clear error instead of NoClassDefFoundError mid-job.
  *
  * The reflective surface is the stable public API (OrtEnvironment
  * .getEnvironment → createSession(path) → run(Map[name → OnnxTensor]))
  * with the model's pooled-output tensor read back as float[][]. Wire
  * format notes: `inputName` must match the model graph's input
  * (commonly "input_ids"); models needing attention masks wrap this
  * class with a second tensor — the session API is one call away.
  */
final case class OnnxSessionProvider(
    modelPath: String,
    inputName: String = "input_ids") extends InferenceSessionProvider {
  require(OnnxSessionProvider.available,
    "ai.onnxruntime is not on the classpath — this is a zero-egress build; " +
      "ship the ONNX Runtime jar with the cluster to enable in-engine inference")

  override def newSession(): InferenceSession = new InferenceSession {
    private val envCls = Class.forName("ai.onnxruntime.OrtEnvironment")
    private val env = envCls.getMethod("getEnvironment").invoke(null)
    private val sess = envCls.getMethod("createSession", classOf[String])
      .invoke(env, modelPath)
    private val sessCls = Class.forName("ai.onnxruntime.OrtSession")
    private val tensorCls = Class.forName("ai.onnxruntime.OnnxTensor")
    private val valueCls = Class.forName("ai.onnxruntime.OnnxValue")

    override def run(ids: Array[Array[Long]]): Array[Array[Float]] = {
      val tensor = tensorCls
        .getMethod("createTensor", envCls, classOf[Object])
        .invoke(null, env, ids)
      try {
        val result = sessCls.getMethod("run", classOf[java.util.Map[_, _]])
          .invoke(sess, java.util.Collections.singletonMap(inputName, tensor))
        try {
          val value = result.getClass.getMethod("get", classOf[Int])
            .invoke(result, Integer.valueOf(0))
          valueCls.getMethod("getValue").invoke(value)
            .asInstanceOf[Array[Array[Float]]]
        } finally result.asInstanceOf[AutoCloseable].close()
      } finally tensor.asInstanceOf[AutoCloseable].close()
    }

    override def close(): Unit = sess.asInstanceOf[AutoCloseable].close()
  }
}

object OnnxSessionProvider {
  /** True when the ONNX Runtime classes are loadable in this JVM. */
  lazy val available: Boolean =
    try { Class.forName("ai.onnxruntime.OrtEnvironment"); true }
    catch { case _: ReflectiveOperationException | _: LinkageError => false }
}

/** Deterministic stand-in runtime for zero-egress builds — the codec-stub
  * pattern ([[graft.operators.Multimodal]] decodeStub): the model call is
  * faked with pure integer arithmetic over the token-id matrix
  * (`[Σids, n, first, last] mod 97`, zero-padding excluded), so the WHOLE
  * bulk-inference path — partitioning, session lifecycle, batching,
  * padding, store ingest — runs for real and the output is exactly
  * replicable by the DuckDB oracle. Swap [[OnnxSessionProvider]] in for a
  * real model; nothing else changes.
  */
final case class StubInferenceProvider() extends InferenceSessionProvider {
  override def newSession(): InferenceSession = new InferenceSession {
    override def run(ids: Array[Array[Long]]): Array[Array[Float]] =
      ids.map { row =>
        val nz = row.filter(_ != 0L)
        Array[Float]((nz.sum % 97L).toFloat, (nz.length % 97).toFloat,
          (nz.headOption.getOrElse(0L) % 97L).toFloat,
          (nz.lastOption.getOrElse(0L) % 97L).toFloat)
      }
    override def close(): Unit = ()
  }
}

object Embedder {

  /** Distributed embedding of a text column. */
  def embedColumn(embedder: Embedder, text: Column): Column = {
    val f = udf((s: String) => embedder.embed(if (s == null) "" else s))
    f(text)
  }

  /** Bulk batch-inference path: ONE embedder per partition (the ONNX
    * session shape — model load amortizes over the partition), rows fed in
    * `batchSize` chunks, AutoCloseable embedders closed at task end even
    * on failure. Output is (id STRING, embedding ARRAY<FLOAT>) — feed
    * [[graft.sources.VectorStore.ingest]] or
    * [[embedDocumentsBulk]] for the store-shaped frame.
    *
    * `mk` is a FACTORY, not an instance: the session must be constructed
    * on the executor (it holds native handles and is not serializable).
    */
  def embedPartitions(mk: () => Embedder, docs: DataFrame,
      id: Column, text: Column, batchSize: Int = 64): DataFrame =
    embedKeepingText(mk, docs, id, text, batchSize).select("id", "embedding")

  /** The shared partition-inference kernel: (id, text, embedding) in ONE
    * pass, the text riding through `mapPartitions` so no second source
    * scan or join-back exists. Session factory semantics as
    * [[embedPartitions]].
    */
  private def embedKeepingText(mk: () => Embedder, docs: DataFrame,
      id: Column, text: Column, batchSize: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(id.cast("string").as("id"), text.as("txt"))
      .as[(String, String)]
      .mapPartitions { it =>
        val emb = mk()
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit] { _ =>
            emb match { case c: AutoCloseable => c.close(); case _ => () }
          })
        it.grouped(batchSize).flatMap { chunk =>
          val vecs = emb.embedBatch(chunk.map(_._2))
          chunk.iterator.zip(vecs.iterator).map { case ((i, t), v) => (i, t, v) }
        }
      }
      .toDF("id", "text", "embedding")
  }

  /** [[embedPartitions]] composed into the store ingest — the full
    * batch-index build: documents → per-partition batched inference →
    * store rows (id, embedding, metadata) ready for index build/search.
    * The metadata is built from the text CARRIED THROUGH the inference
    * pass — a join-back by id would scan the source twice and multiply
    * rows on duplicate ids (nothing upstream enforces id uniqueness).
    */
  def embedDocumentsBulk(mk: () => Embedder, docs: DataFrame,
      id: Column, text: Column, batchSize: Int = 64): DataFrame = {
    val t = embedKeepingText(mk, docs, id, text, batchSize)
    graft.sources.VectorStore.ingest(
      t.select(col("id"), col("embedding"),
        to_json(struct(col("text"))).as("metadata")),
      col("id"), col("embedding"), col("metadata"))
  }

  /** documents-shaped table → store-shaped rows (id, embedding, metadata)
    * with embeddings computed in the cluster.
    */
  def embedDocuments(embedder: Embedder, docs: DataFrame, id: Column, text: Column): DataFrame =
    graft.sources.VectorStore.ingest(
      docs.select(id.as("id"), embedColumn(embedder, text).as("embedding"),
        to_json(struct(text.as("text"))).as("metadata")),
      col("id"), col("embedding"), col("metadata"))
}
