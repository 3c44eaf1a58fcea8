package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL document source — the interchange format corpus drops actually
  * arrive in (one JSON document per line, millions of lines per file).
  *
  * Production hardening this encodes:
  *  - EXPLICIT schema: never schema inference (inference reads the data
  *    twice and silently unions drifting shapes across 100 TB of files);
  *  - PERMISSIVE parsing with a captured corrupt-record column: one bad
  *    line must not kill a multi-hour ingest, but it must not vanish
  *    either — [[read]] returns (clean rows, quarantined raw lines), the
  *    same admit-and-audit discipline as `codstats.Normalize`;
  *  - derived `n_chars` recomputed, not trusted from the wire.
  *
  * Scale: the JSONL scan is splittable per line; the parse is per-row
  * codegen (`from_json` semantics via the DataSource); quarantine and
  * clean splits share one scan when the caller materializes both (cache
  * upstream if both sides are consumed).
  */
object JsonlDocuments {

  /** The documents-table wire schema (doc_id, text, lang, source, url).
    * `url` is nullable — corpus drops without provenance URLs ingest
    * unchanged; when present it feeds the domain-level curation stage
    * ([[graft.ops.UrlOps]] + [[graft.corpus.CurationPipeline]]'s
    * domain cap). */
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("lang", StringType, nullable = true),
    StructField("source", StringType, nullable = true),
    StructField("url", StringType, nullable = true)))

  /** The admit-and-audit split shared by every hardened reader
    * ([[JsonlDocuments]], [[CsvDocuments]]): clean = parsed AND required
    * fields present, with n_chars recomputed; quarantine = the raw
    * corrupt line when the parser kept it, else the row re-serialized AS
    * JSON — field names preserved and nulls explicit, so a repair pass
    * can always re-parse the quarantine unambiguously (a positional CSV
    * reconstruction could not). */
  private[graft] def split(parsed: DataFrame): (DataFrame, DataFrame) = {
    val clean = parsed
      .filter(col("_corrupt_record").isNull && col("doc_id").isNotNull
        && col("text").isNotNull)
      .drop("_corrupt_record")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val quarantined = parsed
      .filter(col("_corrupt_record").isNotNull ||
        col("doc_id").isNull || col("text").isNull)
      // ignoreNullFields=false: to_json DROPS null fields by default,
      // which would serialize a doc_id-less row without the very field
      // a repair pass needs to see was null — the "nulls explicit"
      // contract above requires the option
      .select(coalesce(col("_corrupt_record"),
        to_json(struct(col("doc_id"), col("text"), col("lang"), col("source"),
          col("url")), Map("ignoreNullFields" -> "false")))
        .as("raw_line"))
    (clean, quarantined)
  }

  /** @return (clean documents with recomputed n_chars, quarantined lines).
    * NOT cached here: an unconditional cache had no release path, so a
    * long-lived ingest session pinned one full parse per drop forever —
    * caching is the CALLER's choice (and cost), per the scaladoc above. */
  def read(spark: SparkSession, path: String): (DataFrame, DataFrame) =
    split(spark.read.schema(parsedSchema).options(permissive).json(path))

  /** The parse [[split]] expects, in the batch and the landing reader. */
  private[graft] val parsedSchema: StructType =
    schema.add(StructField("_corrupt_record", StringType, nullable = true))
  private[graft] val permissive: Map[String, String] = Map(
    "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")
}
