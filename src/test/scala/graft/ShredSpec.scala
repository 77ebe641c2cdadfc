package graft

import graft.operators.Shred

/** Shredder spec: nested EPA-shaped JSON → parent + child tables
  * (FIXTURES.md B1; mirrors `epa_ingestion.py:313-393` behaviors). */
class ShredSpec extends SparkSuite {

  val fullDoc: String =
    """{"eparegno":"70051-119","productname":"AZAGUARD",
      |"registereddate":"2001-03-14","cancel_flag":"N",
      |"cancellationreason":null,"product_status":"Active",
      |"product_status_date":"2001-03-14","signal_word":"CAUTION",
      |"rup_yn":"N","transfer_flag":"N",
      |"companyinfo":[{"name":"BioSafe","city":"Hartford","state":"CT"}],
      |"active_ingredients":[{"pc_code":"121701","active_ing":"Azadirachtin",
      |  "cas_number":"11141-17-6","active_ing_percent":3.0}],
      |"sites":[{"site":"INDOOR"},{"site":"OUTDOOR"}],
      |"pests":[{"pest":"APHIDS"}],
      |"types":[{"type":"INSECTICIDE"},{"type":"NEMATICIDE"}],
      |"formulations":[{"formulation":"LIQUID"}],
      |"altbrandnames":[{"altbrandname":"AZA 3%"}],
      |"pdffiles":[
      |  {"epa_reg_num":"070051-00119","pdffile":"070051-00119-20010314.pdf",
      |   "pdffile_accepted_date":"2001-03-14"},
      |  {"epa_reg_num":"070051-00119","pdffile":"070051-00119-20150620.pdf",
      |   "pdffile_accepted_date":"2015-06-20"}],
      |"transfer_history":[{"previous_eparegno":"264-1050",
      |  "previous_company":"Bayer","transferred_date":"1999-01-01"}]}"""
      .stripMargin.replace("\n", "")

  val minimalDoc: String =
    """{"eparegno":"67702-1-70051","productname":"MINIMAL"}"""

  test("full document shreds into parent + 9 children") {
    val tables = Shred.shredJson(spark, Seq(fullDoc))
    assert(tables.keySet == Set("products", "companyinfo",
      "active_ingredients", "sites", "pests", "types", "formulations",
      "altbrandnames", "pdffiles", "transfer_history"))
    val prod = tables("products").collect()
    assert(prod.length == 1)
    assert(prod.head.getAs[String]("EPAREGNO") == "70051-119")
    assert(prod.head.getAs[String]("SIGNAL_WORD") == "CAUTION")
    assert(tables("sites").count() == 2)
    assert(tables("pdffiles").count() == 2)
    assert(tables("types").count() == 2)
  }

  test("column names are uppercased and children carry the FK") {
    val tables = Shred.shredJson(spark, Seq(fullDoc))
    val sites = tables("sites")
    assert(sites.columns.toSet == Set("EPAREGNO", "SITE"))
    assert(sites.collect().forall(_.getAs[String]("EPAREGNO") == "70051-119"))
    val ai = tables("active_ingredients")
    assert(ai.columns.contains("ACTIVE_ING_PERCENT"))
    assert(ai.collect().head.getAs[Double]("ACTIVE_ING_PERCENT") == 3.0)
  }

  test("absent child arrays produce zero rows, not failures") {
    val tables = Shred.shredJson(spark, Seq(minimalDoc))
    assert(tables("products").count() == 1)
    assert(tables("sites").count() == 0)
    assert(tables("pdffiles").count() == 0)
  }

  test("malformed JSON isolates to a null row (per-item fault isolation)") {
    val tables = Shred.shredJson(spark, Seq(fullDoc, "{not json"))
    // bad doc contributes a null parent row but no child rows, run continues
    assert(tables("products").count() == 2)
    assert(tables("sites").count() == 2)
  }

  test("a line cut inside a nested array yields no keyed partial product") {
    // cut right after a key inside pdffiles: the fields read before the
    // fault must not survive as a second products/companyinfo/pdffiles row
    val cut = fullDoc.take(fullDoc.indexOf("\"pdffile\":") + "\"pdffile\"".length)
    val tables = Shred.shredJson(spark, Seq(fullDoc, cut))
    val keys = tables("products").collect()
      .map(r => Option(r.getAs[String]("EPAREGNO")))
    assert(keys.toSeq.sorted == Seq(None, Some("70051-119")))
    assert(tables("companyinfo").count() == 1)
    assert(tables("pdffiles").count() == 2)
    // flagging adds no field: `doc` keeps exactly the declared schema
    import spark.implicits._
    assert(Shred.parse(Seq(cut).toDF("json")).schema("doc").dataType ==
      Shred.productSchema)
  }

  test("variant (schema-on-read) path matches the declared-schema path") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val parsedS = Shred.parse(Seq(fullDoc).toDF("json"))
    val parsedV = Shred.parseVariant(Seq(fullDoc).toDF("json"))
    val pS = Shred.shred(parsedS)("products").collect().head
    val pV = Shred.productsFromVariant(parsedV).collect().head
    assert(pS.getAs[String]("EPAREGNO") == pV.getAs[String]("EPAREGNO"))
    assert(pS.getAs[String]("SIGNAL_WORD") == pV.getAs[String]("SIGNAL_WORD"))
    val sitesV = Shred.childFromVariant(parsedV, "sites", Seq("site"))
    assert(sitesV.columns.toSet == Set("EPAREGNO", "SITE"))
    assert(sitesV.collect().map(_.getAs[String]("SITE")).sorted.toSeq ==
      Seq("INDOOR", "OUTDOOR"))
    // schema-on-read keeps fields the declared schema doesn't know about
    val extraJson = """{"eparegno":"1-1","brand_new_field":42}"""
    val extra = Shred.parseVariant(Seq(extraJson).toDF("json"))
    assert(extra.select(
      expr("variant_get(doc, '$.brand_new_field', 'int')"))
      .head.getInt(0) == 42)
  }

  test("mixed batch: children union across documents") {
    val doc2 = fullDoc.replace("70051-119", "100-200")
    val tables = Shred.shredJson(spark, Seq(fullDoc, doc2))
    assert(tables("products").count() == 2)
    assert(tables("sites").count() == 4)
    val keys = tables("pdffiles").select("EPAREGNO").distinct()
      .collect().map(_.getString(0)).toSet
    assert(keys == Set("70051-119", "100-200"))
  }
}
