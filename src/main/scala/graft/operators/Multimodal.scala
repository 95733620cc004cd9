package graft.operators

import graft.Checkpoint.CheckpointOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multimodal column handling — beyond-reference capability for a
  * training-data pipeline: treat image/audio/video payloads as opaque
  * `BINARY` columns with typed metadata, and run decode / feature-extract /
  * frame-sample as distributed operators.
  *
  * The actual codec step is STUBBED (this container has no image/audio
  * libraries): `decodeStub` derives deterministic fake features from the raw
  * bytes. Everything around it — schema, batch iteration shape, partition
  * behavior, frame slicing — is real Spark plumbing, tested end-to-end; a
  * production build swaps `decodeStub`'s body for a JNI/FFM codec call
  * without touching any plan shape.
  *
  * Scale notes: decode runs via `mapPartitions` with explicit micro-batches
  * (the JVM analog of an Arrow-batched Pandas UDF) so a native decoder
  * amortizes per-batch setup; frame sampling is pure Column algebra
  * (`substring` on BINARY + posexplode), codegen'd, no data leaves the
  * executor until the final projection.
  */
object Multimodal {

  /** Decoded-feature record (the stub's output schema — what a real image
    * decoder would emit: pixel dims, channels, mean luminance).
    */
  final case class MediaFeatures(
      doc_id: Long,
      kind: String,
      n_bytes: Int,
      width: Int,
      height: Int,
      channels: Int,
      brightness: Double)

  /** Adapt a text table into an opaque-binary media table with typed
    * metadata — the canonical shape `(id, content BINARY, meta STRUCT)`.
    * Payload is the utf-8 text bytes (deterministic fake media).
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      col("text").cast("binary").as("content"),
      struct(
        when(col("doc_id") % 3 === 0, lit("image/x-fake"))
          .when(col("doc_id") % 3 === 1, lit("audio/x-fake"))
          .otherwise(lit("video/x-fake")).as("mime"),
        when(col("doc_id") % 3 === 0, lit("image"))
          .when(col("doc_id") % 3 === 1, lit("audio"))
          .otherwise(lit("video")).as("kind"),
        octet_length(col("text").cast("binary")).as("n_bytes")).as("media_meta"))

  /** One decoded media record — what a real codec emits per payload. */
  final case class Decoded(width: Int, height: Int, channels: Int,
      brightness: Double)

  /** The codec narrow waist — the decoder twin of
    * [[graft.functions.InferenceSession]]: everything Spark-side
    * (partitioning, batch iteration, lifecycle, schema) is real and
    * tested; what executes the decode is whatever implements this. A
    * JNI/FFM codec closes native handles in `close()`.
    */
  trait MediaDecoder extends AutoCloseable {
    def decode(kind: String, bytes: Array[Byte]): Decoded
    override def close(): Unit = ()
  }

  /** Factory shipped to executors; `newDecoder()` runs ONCE PER PARTITION
    * so expensive codec construction (native lib load, context setup)
    * amortizes over the partition's rows — the decoder itself is never
    * serialized. The SPI seam the r7 docstring promised as a code edit
    * ("swaps decodeStub's body"): a production codec now drops in without
    * touching operator code.
    */
  trait MediaDecoderProvider extends Serializable {
    def newDecoder(): MediaDecoder
  }

  /** Deterministic default for zero-egress builds — the codec analog of
    * [[graft.functions.StubInferenceProvider]]: wraps [[decodeStub]] so the
    * full decode path (batching, per-partition lifecycle, typed schema)
    * runs for real and stays oracle-replicable.
    */
  final case class StubDecoderProvider() extends MediaDecoderProvider {
    override def newDecoder(): MediaDecoder = new MediaDecoder {
      override def decode(kind: String, bytes: Array[Byte]): Decoded = {
        val (w, h, c, b) = decodeStub(bytes)
        Decoded(w, h, c, b)
      }
    }
  }

  /** Runtime-bound codec — the decoder twin of
    * [[graft.functions.OnnxSessionProvider]]: compiled WITHOUT the codec
    * dependency (zero-egress build), bound reflectively when the named
    * class (a no-arg-constructible [[MediaDecoder]]) is on the executor
    * classpath. Constructing the provider on a build without the runtime
    * throws a clear error instead of NoClassDefFoundError mid-job.
    */
  final case class ReflectiveDecoderProvider(className: String)
      extends MediaDecoderProvider {
    require(ReflectiveDecoderProvider.available(className),
      s"media decoder class $className is not on the classpath — this is a " +
        "zero-egress build; ship the codec jar with the cluster to enable " +
        "real decode")
    override def newDecoder(): MediaDecoder =
      Class.forName(className).getDeclaredConstructor()
        .newInstance().asInstanceOf[MediaDecoder]
  }

  object ReflectiveDecoderProvider {
    /** True when the named decoder class is loadable in this JVM. */
    def available(className: String): Boolean =
      try { Class.forName(className); true }
      catch { case _: ReflectiveOperationException | _: LinkageError => false }
  }

  /** STUB decoder kernel — deterministic fake standing in for a real codec.
    * Derives plausible "decoded" dimensions from the byte length and a mean
    * "luminance" from the actual bytes (so the byte-access path is real).
    * [[metaFeatures]]' column-algebra twin replicates the length-derived
    * fields, which is what keeps the stub oracle-checkable.
    */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Int, Double) = {
    val n = bytes.length
    val width = 64 + n % 576
    val height = 64 + (n * 31) % 312
    var sum = 0L
    var i = 0
    while (i < n) { sum += bytes(i) & 0xff; i += 1 }
    val brightness = if (n == 0) 0.0 else sum.toDouble / n / 255.0
    (width, height, 3, brightness)
  }

  /** Distributed decode through the [[MediaDecoderProvider]] SPI:
    * mapPartitions constructs ONE decoder per partition (closed at task end
    * even on failure), feeds it explicit `batchSize` micro-batches, and
    * returns the typed feature schema. Swap [[StubDecoderProvider]] for a
    * [[ReflectiveDecoderProvider]] and nothing else changes.
    */
  def decodeFeatures(media: DataFrame, batchSize: Int = 64,
      provider: MediaDecoderProvider = StubDecoderProvider()): DataFrame = {
    val sp = media.sparkSession
    import sp.implicits._
    media
      .select(col("doc_id"), col("media_meta.kind").as("kind"), col("content"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        val dec = provider.newDecoder()
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => dec.close()))
        rows.grouped(batchSize).flatMap { batch =>
          // a real codec amortizes per-batch setup here
          batch.iterator.map { case (id, kind, bytes) =>
            val d = dec.decode(kind, bytes)
            MediaFeatures(id, kind, bytes.length, d.width, d.height,
              d.channels, d.brightness)
          }
        }
      }
      .toDF()
  }

  /** Column-algebra metadata/feature projection (no UDF): the subset of the
    * decode output derivable from length alone — used as the oracled
    * correctness surface for the media schema plumbing.
    */
  def metaFeatures(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"),
      col("media_meta.mime").as("mime"),
      col("media_meta.kind").as("kind"),
      col("media_meta.n_bytes").as("n_bytes"),
      (lit(64) + col("media_meta.n_bytes") % 576).as("width"),
      (lit(64) + (col("media_meta.n_bytes") * 31) % 312).as("height"))

  /** Frame sampling: cut the payload into fixed-size byte slices (≙ video
    * frame extraction / audio windowing), at most `maxFrames` per record.
    * Pure codegen'd Column algebra over BINARY.
    */
  def sampleFrames(media: DataFrame, frameBytes: Int, maxFrames: Int): DataFrame =
    media
      .select(col("doc_id"), col("content"),
        least(ceil(octet_length(col("content")).cast("double") / frameBytes).cast("int"),
          lit(maxFrames)).as("n_frames"))
      .filter(col("n_frames") > 0)
      .select(col("doc_id"), col("content"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .select(col("doc_id"), col("frame_idx"),
        expr(s"substring(content, frame_idx * $frameBytes + 1, $frameBytes)").as("frame"))
      .select(col("doc_id"), col("frame_idx"),
        octet_length(col("frame")).as("frame_len"), md5(col("frame")).as("frame_md5"))

  /** Scene segmentation over the frame sequence: a scene is a maximal run
    * of consecutive frames with identical content signature (still
    * segments, slates, encoder-repeated frames); a boundary is any frame
    * whose signature differs from its predecessor. The lag + conditional
    * cumulative-sum shape is [[graft.operators.Relational.sessionize]] on
    * frames — with a real perceptual hash in the decode stub the same plan
    * detects soft cuts; the exact-hash signature here detects exact stills.
    *
    * Scale shape: the window partitions by media id and each partition is
    * bounded by `maxFrames`, so the sort inside the window is per-key tiny;
    * nothing corpus-wide sorts or shuffles beyond the one hash exchange on
    * doc_id.
    */
  def sceneSegments(media: DataFrame, frameBytes: Int, maxFrames: Int): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    sampleFrames(media, frameBytes, maxFrames)
      .withColumn("prev_md5", lag(col("frame_md5"), 1).over(w))
      .withColumn("boundary",
        when(col("prev_md5").isNull || col("prev_md5") =!= col("frame_md5"), 1)
          .otherwise(0))
      .withColumn("scene_id",
        sum(col("boundary")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .groupBy("doc_id", "scene_id")
      .agg(count(lit(1)).as("n_frames"),
        min(col("frame_idx")).as("start_frame"),
        min(col("frame_md5")).as("frame_md5"))
  }

  /** Near-duplicate media by frame-content overlap: Jaccard over the SET of
    * per-frame content hashes — the binary-payload analog of shingle dedup
    * (perceptually-identical segments hash equal; re-encoded/offset content
    * would need perceptual hashes in the decode stub instead).
    *
    * Count-join strategy: explode distinct frame hashes, equi-join on the
    * hash, count co-occurrences — only documents SHARING a frame ever meet,
    * so candidate volume follows real overlap, not corpus size².
    */
  def frameNearDupPairs(media: DataFrame, frameBytes: Int, tau: Double): DataFrame = {
    val frames = media
      .select(col("doc_id"), col("content"),
        ceil(octet_length(col("content")).cast("double") / frameBytes).cast("int").as("nf"))
      .filter(col("nf") > 0)
      .select(col("doc_id"), explode(sequence(lit(0), col("nf") - 1)).as("i"), col("content"))
      .select(col("doc_id"),
        md5(expr(s"substring(content, i * $frameBytes + 1, $frameBytes)")).as("fh"))
      .distinct()
    val sizes = frames.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val co = frames.as("a").join(frames.as("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    co
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** 60-bit perceptual (difference) hash over the payload: 61
    * stride-sampled bytes form the "decoded scanline" (the dHash shape — a
    * real pipeline hashes the downscaled luminance gradient; the
    * byte-sampling stub keeps the arithmetic honest end to end), bit j =
    * sample j+1 > sample j — the gradient bits are balanced by
    * construction regardless of global byte levels, unlike the mean-test
    * aHash variant on letter-heavy payloads. Identical payloads hash
    * equal; small edits flip few bits; 60 bits reuses [[Dedup.simhash]]'s
    * 4×15-bit pigeonhole banding.
    *
    * Evaluation-shape warning learned the hard way: the samples are folded
    * in ONE `aggregate` pass with a (hash, prev, idx) struct accumulator.
    * Referencing the sample array via `element_at(vals, j)` inside a
    * lambda re-evaluates the WHOLE 61-sample transform per access (no CSE
    * inside HOF lambdas) — ~7,000 substr+radix conversions per row, which
    * measured 89 s for 5,000 rows. The single-pass fold computes each
    * sample exactly once.
    */
  def perceptualHash(content: Column): Column = {
    val powers = typedLit((0 until 60).map(j => 1L << j))
    val n = octet_length(content)
    val hx = hex(content)
    val stride = greatest(lit(1L), floor(n.cast("double") / 61.0).cast("long"))
    val vals = transform(sequence(lit(0L), lit(60L)), j => {
      val pos = least(j * stride, (n - 1).cast("long"))
      conv(hx.substr((pos * 2 + 1).cast("int"), lit(2)), 16, 10).cast("long")
    })
    val zero = struct(lit(0L).as("h"), lit(-1L).as("p"), lit(0).as("i"))
    val hash = aggregate(vals, zero,
      (acc, x) => struct(
        (acc.getField("h") + when(acc.getField("i") >= 1 && x > acc.getField("p"),
          element_at(powers, acc.getField("i"))).otherwise(0L)).as("h"),
        x.as("p"),
        (acc.getField("i") + 1).as("i")),
      acc => acc.getField("h"))
    when(n > 0, hash).otherwise(lit(0L))
  }

  /** Near-dup media pairs at perceptual-hash Hamming ≤ `maxHamming`,
    * blocked on the simhash 4×15-bit pigeonhole bands (complete for radius
    * ≤ 3). Hamming is computed in the join projection before the distinct
    * exchange, so only qualifying pairs shuffle.
    */
  def phashNearDupPairs(media: DataFrame, maxHamming: Int = 3): DataFrame = {
    // materialize (id, ph) BEFORE banding: projection collapse otherwise
    // inlines the 61-sample hash expression into all four band values, the
    // join keys, AND the per-pair Hamming projection — the hash ends up
    // recomputed per CANDIDATE PAIR instead of per row (measured 340 s vs
    // ~1 s at sf0.1). After the cut the join sees ph as a stored 8-byte
    // column.
    val h = media.select(col("doc_id").as("id"),
        perceptualHash(col("content")).as("ph"))
      .cut(eager = false)
    val banded = h.select(col("id"), col("ph"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("ph"), b * 15).bitwiseAND(lit(0x7fffL))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bval")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bval") === col("b.bval") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.ph").bitwiseXOR(col("b.ph"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }
}
