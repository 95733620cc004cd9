package graft.sources

import graft.functions.{JsonMeta, VectorFunctions => VF}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** The engine's one logical table — the reference's
  * `(unique_id, embedding, metadata)` collection
  * (/root/reference/minivectordb/vector_database.py:12-16) re-expressed as a
  * columnar DataFrame:
  *
  * {{{
  *   id          STRING              -- canonicalized unique id
  *   embedding   ARRAY<FLOAT>        -- raw vector (float32, like the reference)
  *   norm_sq     DOUBLE              -- materialized |v|^2 (index-build analog)
  *   metadata    STRING              -- JSON object, source of truth
  *   metadata_kv MAP<STRING,STRING>  -- key -> canonical JSON fragment (filter-serving)
  * }}}
  *
  * Design notes for scale:
  *  - `norm_sq` replaces the reference's in-place L2 normalization at index
  *    build (vector_database.py:42-47): queries then need one fold over the
  *    raw float array + one sqrt, rather than a second full-width normalized
  *    copy (half the I/O of storing `norm_embedding ARRAY<DOUBLE>`).
  *  - `metadata_kv` is the inverted-index analog: presence checks and typed
  *    comparisons are codegen'd map lookups, JSON parsed once at ingest.
  *  - persistence is Parquet; the sharded variants' fixed-size pickle shards
  *    (sharded_vector_database.py:9,98-102) map to `maxRecordsPerFile`.
  */
final case class VectorStore(df: DataFrame) {
  import VectorStore._

  def spark: SparkSession = df.sparkSession

  def count(): Long = df.count()

  /** Point lookup (reference `get_vector`, vector_database.py:49-55).
    * Raises if absent, with the reference's message, and if the id is
    * stored more than once. One job ([[Bridge.collectUpTo]] with a cap of
    * one row), so the driver receives at most two rows per partition. The
    * id reaches generated code as a reference, so a warm process compiles
    * nothing for a new id.
    */
  def getVector(uniqueId: String): Array[Float] =
    Bridge.collectUpTo(df.filter(col("id") === lit(uniqueId)).select("embedding"), 1) match {
      case Some(Array(r)) => r.getSeq[Float](0).toArray
      case Some(_) => throw new NoSuchElementException("Unique ID does not exist.")
      case None => throw new IllegalStateException(s"Unique ID $uniqueId is stored more than once.")
    }

  /** Single insert (reference `store_embedding`, vector_database.py:57-81).
    * Duplicate id ⇒ IllegalArgumentException("Unique ID already exists.").
    */
  def insert(uniqueId: String, embedding: Seq[Float], metadataJson: String = "{}"): VectorStore =
    insertBatch(Seq(uniqueId), Seq(embedding), Seq(metadataJson))

  /** Batch insert (reference `store_embeddings_batch`,
    * vector_database.py:83-117). Missing metadata entries are padded with
    * `{}` (the sharded variant's behavior, sharded_vector_database.py:260-261,
    * adopted per SURVEY §3.2). Duplicate-id validation runs as one
    * bounded job, not a per-row loop.
    */
  def insertBatch(
      ids: Seq[String],
      embeddings: Seq[Seq[Float]],
      metadataJsons: Seq[String] = Nil): VectorStore = {
    require(ids.length == embeddings.length, "ids and embeddings must align")
    val metas = if (metadataJsons.isEmpty) Seq.fill(ids.length)("{}") else metadataJsons
    require(metas.length == ids.length, "Metadata dictionaries must be provided for all unique IDs.")
    if (ids.distinct.length != ids.length)
      throw new IllegalArgumentException("Unique ID already exists.")
    val sp = spark
    import sp.implicits._
    val newRows = ingest(
      ids.lazyZip(embeddings).lazyZip(metas).map { case (i, e, m) => (i, e, m) }
        .toDF("id", "embedding", "metadata")
        .withColumn("embedding", col("embedding").cast(ArrayType(FloatType))),
      col("id"), col("embedding"), col("metadata"))
    // Existence check: one IN filter over the store instead of |batch| point
    // lookups, in one job (a broadcast semi-join would run a second job to
    // broadcast the batch). Spark passes the id set to generated code as a
    // reference. A cap of zero rows: any stored id overflows it (`None`).
    val dups = df.filter(col("id").isin(ids: _*)).select("id")
    if (Bridge.collectUpTo(dups, 0).isEmpty) throw new IllegalArgumentException("Unique ID already exists.")
    VectorStore(df.unionByName(newRows))
  }

  /** Single delete (reference `delete_embedding`, vector_database.py:119-155).
    * The reference compacts row numbering; ids (not positions) are our key,
    * so the anti-join is the whole operation.
    */
  def delete(uniqueId: String): VectorStore = deleteBatch(Seq(uniqueId))

  /** Batch delete with all-exist validation (reference
    * `delete_embeddings_batch`, sharded_vector_database.py:206-241).
    */
  def deleteBatch(ids: Seq[String]): VectorStore = {
    val sp = spark
    import sp.implicits._
    val del = ids.toDF("id")
    val found = df.join(broadcast(del), Seq("id"), "left_semi").select("id").distinct().count()
    if (found != ids.distinct.length)
      throw new NoSuchElementException("Unique ID does not exist.")
    VectorStore(df.join(broadcast(del), Seq("id"), "left_anti"))
  }

  /** Persist (reference `persist_to_disk`, vector_database.py:538-548);
    * `shardSize` mirrors the sharded variants' rows-per-pickle
    * (sharded_vector_database.py:9) as a Parquet file-sizing knob. The
    * embedding's elements skip Parquet's dictionary
    * ([[Parquet.writeOptions]]); `id` gets no bloom, a store file is not a
    * manifest layout's.
    */
  def persist(path: String, shardSize: Int = 5000): Unit =
    df.write.mode("overwrite").option("maxRecordsPerFile", shardSize.toLong)
      .options(Parquet.writeOptions(df, keyed = false)).parquet(path)
}

object VectorStore {

  /** Build the canonical columns from arbitrary id/embedding/metadata
    * expressions. Metadata kv-map is derived with the ingest-time JSON UDF.
    */
  def ingest(src: DataFrame, id: Column, embedding: Column, metadataJson: Column): DataFrame =
    src.select(
      id.cast(StringType).as("id"),
      embedding.cast(ArrayType(FloatType)).as("embedding"),
      metadataJson.as("metadata"))
      .withColumn("norm_sq", VF.normSq(col("embedding")))
      .withColumn("metadata_kv", JsonMeta.jsonKv(col("metadata")))

  /** Open a persisted store. */
  def load(spark: SparkSession, path: String): VectorStore =
    VectorStore(Parquet.read(spark, path))

  /** Ingest from JSON-lines records `{"id": …, "embedding": [...], "metadata": {...}}`
    * — the interchange format a reference user would export to. The open
    * metadata object is re-serialized to the canonical JSON column.
    */
  def fromJsonLines(spark: SparkSession, path: String): VectorStore = {
    // reading the object-valued metadata field as STRING captures its raw
    // JSON text — exactly the canonical form the store wants
    val raw = spark.read
      .schema("id STRING, embedding ARRAY<FLOAT>, metadata STRING")
      .json(path)
    VectorStore(ingest(raw, col("id"), col("embedding"),
      coalesce(col("metadata"), lit("{}"))))
  }

  /** Ingest from CSV with a delimited embedding column
    * (`id,emb0;emb1;…,metadataJson`) — the lowest-common-denominator feed.
    */
  def fromCsv(
      spark: SparkSession,
      path: String,
      embeddingSep: String = ";"): VectorStore = {
    val raw = spark.read
      .option("header", "true")
      .schema("id STRING, embedding STRING, metadata STRING")
      .csv(path)
    VectorStore(ingest(
      raw.withColumn("embedding",
        split(col("embedding"), java.util.regex.Pattern.quote(embeddingSep))
          .cast(ArrayType(FloatType))),
      col("id"), col("embedding"), coalesce(col("metadata"), lit("{}"))))
  }

  /** Ingest from ORC (same canonical schema as the parquet form — ORC is
    * the other columnar format Spark reads natively, with the same
    * predicate-pushdown/column-pruning behavior at the scan).
    */
  def fromOrc(spark: SparkSession, path: String): VectorStore = {
    val raw = spark.read
      .schema("id STRING, embedding ARRAY<FLOAT>, metadata STRING")
      .orc(path)
    VectorStore(ingest(raw, col("id"), col("embedding"),
      coalesce(col("metadata"), lit("{}"))))
  }

  /** Adapt the driver testdata `embeddings.parquet`
    * (vec_id BIGINT, embedding ARRAY<FLOAT>, label INT — FIXTURES.md §2) into
    * a store; `label` becomes the one metadata key. The kv map is built with
    * pure built-ins here (no UDF) since the schema is known.
    */
  def fromEmbeddingsTable(spark: SparkSession, sfDir: String): VectorStore = {
    val raw = Parquet.read(spark, s"$sfDir/embeddings.parquet")
    val df = raw.select(
      col("vec_id").cast(StringType).as("id"),
      col("embedding").cast(ArrayType(FloatType)).as("embedding"),
      to_json(struct(col("label"))).as("metadata"),
      map(lit("label"), col("label").cast(StringType)).as("metadata_kv"))
      .withColumn("norm_sq", VF.normSq(col("embedding")))
    VectorStore(df)
  }
}
