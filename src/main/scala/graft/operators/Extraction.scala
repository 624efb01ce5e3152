package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semi-structured extraction + derived financial metrics
  * (reference: airflow/dags/idx/idx_transformation_load_script.py).
  *
  * The reference parses XBRL XML into a string map with a Python UDF,
  * then does case-insensitive key lookup, coalesce-to-0 casting, a
  * safe-division ratio, and Rupiah formatting (also Python UDFs). Here
  * the payload extraction is a native `regexp_extract`/`get_json_object`
  * (codegen'd, pushes the scan projection down to just the payload
  * column) and the formatting is a composition of builtin expressions —
  * no UDF anywhere, so the whole stage stays in Tungsten codegen.
  */
object Extraction {

  /** Typed field extraction from a semi-structured payload column
    * (reference parse_xbrl + safe_get_key, idx_transformation_load_script.py:207-282).
    * events.props is a JSON string standing in for the XBRL instance.
    * Rows come in no particular order; a caller that needs one sorts.
    */
  def kvExtract(events: DataFrame): DataFrame =
    events.select(
      col("event_id"),
      col("event_type"),
      // coalesce-to-default on failed extraction, like the reference's
      // `coalesce(cast(...), lit(0.0))` (:407-440)
      coalesce(get_json_object(col("props"), "$.k").cast("long"), lit(0L)).as("k_value"))

  /** Tag extraction from an XML-ish payload column (reference
    * parse_xbrl walks the XBRL instance tree,
    * idx_transformation_load_script.py:207-282). A full XML parse is a
    * UDF; for flat leaf tags a regexp_extract is equivalent and stays
    * codegen'd — `<tag ...>value</tag>` → value, '' when absent.
    */
  def xmlValue(payload: org.apache.spark.sql.Column, tag: String): org.apache.spark.sql.Column =
    regexp_extract(payload, s"<$tag(?:\\s[^>]*)?>([^<]*)</$tag>", 1)

  /** Case-insensitive key lookup over an ARBITRARY (mixed-case-keyed)
    * map column (reference safe_get_key lowercases all keys before
    * lookup, idx_transformation_load_script.py:284-301). The
    * interpreted `transform` here is per-lookup overhead — for maps
    * the engine builds itself, lower-case keys at map-BUILD time and
    * use [[graft.plans.XmlExprs.getKeyCI]] instead (plain constant
    * element_at, no per-row key pass); that is what
    * [[kvExtractNested]] does.
    */
  def safeGetKey(m: org.apache.spark.sql.Column, key: String): org.apache.spark.sql.Column =
    element_at(map_from_arrays(
      transform(map_keys(m), k => lower(k)), map_values(m)), key.toLowerCase)

  /** Full nested-XML extraction — the reference's real XBRL shape:
    * the whole instance document is parsed ONCE into a key→value map
    * ([[graft.plans.XmlLeafMapExpr]]: namespace prefixes stripped,
    * attributes captured as `tag@attr`, keys lowercased at build
    * time), then financial keys are looked up case-insensitively,
    * coalesce-to-0 cast, and a safe-division ratio derived
    * (reference parse_xbrl + safe_get_key + ratios,
    * idx_transformation_load_script.py:207-301,446-454).
    *
    * The payload is synthesized from event columns — nested elements,
    * an `idx:` namespace, attributes on both leaf and non-leaf
    * elements, mixed-case tag names — so the oracle can recompute the
    * expected fields from the same base columns. Rows come in no
    * particular order; a caller that needs one sorts.
    */
  def kvExtractNested(events: DataFrame): DataFrame = {
    import graft.plans.XmlExprs
    val payload = concat(
      lit("""<idx:Report xmlns:idx="http://graft/idx" Entity=""""), col("event_type"), lit("\">"),
      lit("<idx:Revenue>"), coalesce(get_json_object(col("props"), "$.k"), lit("")), lit("</idx:Revenue>"),
      lit("""<idx:meta><idx:CurrentYear unit="IDR">"""), col("user_id"), lit("</idx:CurrentYear></idx:meta>"),
      lit("<Liabilities>"), col("event_id") % 7, lit("</Liabilities>"),
      lit("</idx:Report>"))
    val m = XmlExprs.xmlLeafMap(payload)
    events.select(col("event_id"), m.as("m"))
      .select(
        col("event_id"),
        // attribute on the (non-leaf) root element
        XmlExprs.getKeyCI(col("m"), "Report@Entity").as("entity"),
        // mixed-case lookups against lowercased map keys
        coalesce(nullif(XmlExprs.getKeyCI(col("m"), "REVENUE"), lit("")).cast("long"), lit(0L)).as("revenue"),
        coalesce(nullif(XmlExprs.getKeyCI(col("m"), "currentYear"), lit("")).cast("long"), lit(0L)).as("current_year"),
        // attribute on a leaf element
        XmlExprs.getKeyCI(col("m"), "CurrentYear@Unit").as("unit"),
        coalesce(nullif(XmlExprs.getKeyCI(col("m"), "Liabilities"), lit("")).cast("long"), lit(0L)).as("liabilities"))
      // the reference's debt_to_equity-style safe division: NULL on 0
      .withColumn("leverage_ratio",
        when(col("liabilities") =!= 0,
          round(col("revenue").cast("double") / col("liabilities"), 4)))
  }

  /** XML-path variant of [[kvExtract]]: the payload is an XML-ish
    * document (the reference's actual XBRL shape) and fields come out
    * via [[xmlValue]]. The payload here is synthesized from event
    * columns so the oracle can rebuild it byte-identically. Rows come
    * in no particular order; a caller that needs one sorts.
    */
  def kvExtractXml(events: DataFrame): DataFrame = {
    val payload = concat(
      lit("<evt><type>"), col("event_type"), lit("</type><k>"),
      coalesce(get_json_object(col("props"), "$.k"), lit("")), lit("</k></evt>"))
    events.select(
      col("event_id"),
      xmlValue(payload, "type").as("type_value"),
      // regexp_extract yields '' on no match; '' casts to null only
      // outside ANSI mode, so nullif first (ANSI-safe)
      coalesce(nullif(xmlValue(payload, "k"), lit("")).cast("long"), lit(0L)).as("k_value"))
  }

  /** Derived per-entity financial metrics with safe division
    * (reference debt_to_equity, idx_transformation_load_script.py:446-454):
    * ratio is NULL when the denominator is 0, never a crash or Inf.
    * One row per customer, in no particular order; a caller that needs
    * one sorts.
    */
  def financialMetrics(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    // Money columns are exact 2-decimal values; decimal arithmetic makes
    // every sum exact and order-independent, so results are reproducible
    // regardless of partitioning / merge order (doubles would drift in
    // the last cent depending on reduction order).
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    val li = lineitem.groupBy("l_orderkey").agg(
      sum(price * (lit(1).cast("decimal(18,2)") - disc)).as("net"),
      sum(price * disc).as("discounted"))
    orders
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_custkey")
      .agg(
        round(sum("net"), 2).cast("double").as("revenue"),
        round(sum("discounted"), 2).cast("double").as("cost"),
        round(sum(col("net") - col("discounted")), 2).cast("double").as("profit"))
      .withColumn("margin_ratio",
        when(col("revenue") =!= 0, round(col("profit") / col("revenue"), 4)))
  }

  /** Indonesian Rupiah formatting (reference format_rupiah UDF,
    * idx_transformation_load_script.py:284-308): `Rp 1.234.567,89`,
    * negative as `Rp -1.234,50`. US-format then swap separators — the
    * same trick the reference uses, but as codegen'd builtins
    * (format_number + translate) instead of a Python UDF.
    */
  def rupiah(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(lit("Rp "), translate(format_number(c.cast("double"), 2), ",.", ".,"))

  /** Currency-formatted metric projection (reference applies the
    * formatter to every currency column, :456-467).
    */
  def formatRupiah(orders: DataFrame): DataFrame =
    orders.select(
      col("o_orderkey"),
      round(col("o_totalprice"), 2).as("total"),
      rupiah(col("o_totalprice")).as("total_rupiah"))
      .orderBy("o_orderkey")
}
