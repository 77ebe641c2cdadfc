package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSON-document → normalized-star shredding (SURVEY.md §1.1, §2 S2/F10/P8).
  *
  * The reference's core data-model operation: one nested EPA product JSON
  * (`response.json()['items'][0]`, `epa_ingestion.py:113`) is shredded into
  * a parent row + up to nine child tables (`epa_ingestion.py:313-393`),
  * with column names uppercased (`:325` et al.) and absent child arrays
  * skipped (`data.get(...)` guards, `:339-393`).
  *
  * Spark-first: explicit `from_json` schema (schema-on-read), `explode` for
  * the parent→child fan-out (columnar, codegen'd — replaces the reference's
  * pandas `iterrows`), `explode` (not `explode_outer`) to reproduce the
  * skip-empty-child semantics. The whole shred is one narrow (shuffle-free)
  * pipeline per child table — at 100 TB it is embarrassingly parallel over
  * input documents.
  */
object Shred {

  private def child(fields: (String, DataType)*): ArrayType =
    ArrayType(StructType(fields.map { case (n, t) => StructField(n, t) }))

  /** Schema of one EPA product document (FIXTURES.md B1; fields observed at
    * `epa_ingestion.py:313-393`). */
  val productSchema: StructType = StructType(Seq(
    StructField("eparegno", StringType),
    StructField("productname", StringType),
    StructField("registereddate", StringType),
    StructField("cancel_flag", StringType),
    StructField("cancellationreason", StringType),
    StructField("product_status", StringType),
    StructField("product_status_date", StringType),
    StructField("signal_word", StringType),
    StructField("rup_yn", StringType),
    StructField("transfer_flag", StringType),
    StructField("companyinfo", child(
      "name" -> StringType, "contact_person" -> StringType,
      "co_division_name" -> StringType, "phone" -> StringType,
      "fax" -> StringType, "email" -> StringType, "street" -> StringType,
      "po_box" -> StringType, "city" -> StringType, "state" -> StringType,
      "zip_code" -> StringType)),
    StructField("active_ingredients", child(
      "pc_code" -> StringType, "active_ing" -> StringType,
      "cas_number" -> StringType, "active_ing_percent" -> DoubleType)),
    StructField("sites", child("site" -> StringType)),
    StructField("pests", child("pest" -> StringType)),
    StructField("types", child("type" -> StringType)),
    StructField("formulations", child("formulation" -> StringType)),
    StructField("altbrandnames", child("altbrandname" -> StringType)),
    StructField("pdffiles", child(
      "epa_reg_num" -> StringType, "pdffile" -> StringType,
      "pdffile_accepted_date" -> StringType)),
    StructField("transfer_history", child(
      "previous_eparegno" -> StringType, "previous_company" -> StringType,
      "transferred_date" -> StringType))))

  private val parentCols = Seq("eparegno", "productname", "registereddate",
    "cancel_flag", "cancellationreason", "product_status",
    "product_status_date", "signal_word", "rup_yn", "transfer_flag")

  private val childArrays = Seq("companyinfo", "active_ingredients", "sites",
    "pests", "types", "formulations", "altbrandnames", "pdffiles",
    "transfer_history")

  /** Uppercase all column names (reference `columns.str.upper()`, F6). */
  def upperCols(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toUpperCase).toIndexedSeq: _*)

  /** The variant extractors below interpolate caller-supplied FIELD
    * NAMES (schema identifiers, not row data) into `expr()` paths; this
    * guard makes that trust boundary explicit — an identifier that
    * could alter SQL parsing is rejected loudly instead of spliced. */
  private def checkIdent(name: String): String = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"variant field/type name must be a plain identifier: '$name'")
    name
  }

  /** Parse a DataFrame with a `json` string column into the typed document
    * shape. Malformed documents yield null structs (PERMISSIVE) — the
    * per-item fault isolation of `epa_ingestion.py:426-427`.
    *
    * A bare PERMISSIVE `from_json` keeps the fields it read before the
    * fault: a line cut right after a key inside a nested array still
    * yields its `eparegno` and `productname`, i.e. a keyed half-product.
    * So a second parse whose only field is the corrupt record flags every
    * line that is not well-formed JSON, and a flagged line's `doc` is
    * null; `doc` keeps exactly `productSchema`. Flagging inside the
    * document parse instead would need the helper field dropped from
    * `doc` again, and rebuilding that 19-field struct costs more per
    * batch than the second tokenization of each line. */
  def parse(docs: DataFrame, jsonCol: String = "json"): DataFrame = {
    val corrupt = from_json(col(jsonCol),
      StructType(Seq(StructField("_corrupt_record", StringType))),
      Map("columnNameOfCorruptRecord" -> "_corrupt_record"))
      .getField("_corrupt_record")
    docs.withColumn("doc",
      when(corrupt.isNull, from_json(col(jsonCol), productSchema)))
  }

  /** Shred parsed documents into the parent table + nine child tables,
    * keyed by table name (parent = "products"). Child rows carry the
    * parent `EPAREGNO` foreign key; empty/absent child arrays produce no
    * rows (the reference's `if data.get(...)` guards). */
  def shred(parsed: DataFrame): Map[String, DataFrame] = {
    val doc = col("doc")
    val parent = upperCols(
      parsed.select(parentCols.map(c => doc.getField(c).as(c)): _*))
    val children = childArrays.map { name =>
      val exploded = parsed
        .select(doc.getField("eparegno").as("eparegno"),
          explode(doc.getField(name)).as("c"))
      val fields = exploded.select(col("eparegno"), col("c.*"))
      name -> upperCols(fields)
    }.toMap
    children + ("products" -> parent)
  }

  /** Convenience: raw JSON strings → shredded star. */
  def shredJson(spark: SparkSession, docs: Seq[String]): Map[String, DataFrame] = {
    import spark.implicits._
    shred(parse(docs.toDF("json")))
  }

  // ---- Spark 4 Variant (schema-on-read) alternative (SURVEY §1.3) ----

  /** Parse into a VariantType column: no declared schema, fields typed at
    * extraction. The right choice when the API payload evolves faster
    * than the declared `productSchema` — unknown fields are retained in
    * the variant instead of silently dropped. */
  def parseVariant(docs: DataFrame, jsonCol: String = "json"): DataFrame =
    docs.withColumn("doc", parse_json(col(jsonCol)))

  /** Parent table extracted lazily from the variant — same shape as
    * shred()("products"). */
  def productsFromVariant(parsed: DataFrame): DataFrame =
    upperCols(parsed.select(parentCols.map(c =>
      expr(s"variant_get(doc, '$$.${checkIdent(c)}', 'string')").as(c)): _*))

  /** One child table from the variant: explode the child array variant,
    * then extract the requested fields as strings. */
  def childFromVariant(parsed: DataFrame, child: String,
      fields: Seq[String]): DataFrame =
    childFromVariantTyped(parsed, child, fields.map(f => f -> "string"))

  /** Typed variant extraction: (field, sqlType) pairs — e.g.
    * `active_ing_percent -> "double"` keeps the reference's one numeric
    * measure numeric (`epa_ingestion.py:165`). */
  def childFromVariantTyped(parsed: DataFrame, child: String,
      fields: Seq[(String, String)]): DataFrame = {
    val exploded = parsed.select(
      expr("variant_get(doc, '$.eparegno', 'string')").as("eparegno"),
      explode(expr(
        s"cast(variant_get(doc, '$$.${checkIdent(child)}') AS array<variant>)"))
        .as("c"))
    upperCols(exploded.select(col("eparegno") +: fields.map { case (f, t) =>
      expr(s"variant_get(c, '$$.${checkIdent(f)}', '${checkIdent(t)}')").as(f)
    }: _*))
  }
}
