package graft.etl

import graft.functions.{GeoFunctions, TextFunctions}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference-mirror enrichment operators: each re-expresses one
  * behavior of the R scripts as a declarative, distributed transform.
  * The reference does all of this row-at-a-time inside a for loop
  * (crowdsorsa-etl-2023.R:46-222); here each is one Catalyst plan with
  * broadcast dimension lookups, so the fact side streams through
  * codegen'd stages and never shuffles for enrichment.
  */
object Enrichment {

  val CollectionId = "HR.5835"
  /** The PROD source id; the full prod/test switch (API host + source
    * + token env, 2023.R:13-27) lives in [[DeployProfile]]. */
  val SourceId: String = DeployProfile.Prod.sourceId

  /** Mirrors the municipality-code override (2023.R:51: "864" → "20")
    * before the key lookup: a data-repair remap applied pre-join. */
  def overrideKey(c: Column): Column = when(c === 13, 20).otherwise(c)

  /** R4: code→name lookup chain with override. events.user_id →
    * customer → nation → region, dims broadcast (2023.R:50-53 does this
    * with a lookup table per row; geofi municipality key). */
  def lookupEnrich(t: Tables): DataFrame =
    t.events.select(overrideKey(col("user_id")).as("obs_key"))
      .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
        col("obs_key") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t.region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_obs"))
      .orderBy(col("r_name"), col("n_name"))

  /** R5: timestamp parse + date/hour/minute extraction
    * (2023.R:55-61 strptime "%FT%T" → format "%F"/"%H"/"%M"). */
  def timeExtract(t: Tables): DataFrame =
    t.events
      .select(
        col("ts").cast("date").as("obs_date"),
        hour(col("ts")).cast("long").as("obs_hour"),
        minute(col("ts")).cast("long").as("obs_minute"))
      .groupBy(col("obs_date"), col("obs_hour"))
      .agg(count(lit(1)).as("n"), min(col("obs_minute")).as("first_minute"))
      .orderBy(col("obs_date"), col("obs_hour"))

  /** R6+R7: mojibake repair + lowercase + first-occurrence-only
    * substitution (R `sub`), hashed for a compact verifiable output. */
  def textClean(t: Tables): DataFrame =
    t.documents.select(
      col("doc_id"),
      md5(TextFunctions.cleanText(col("text"), "data", "datum")).as("clean_hash"))
      .orderBy(col("doc_id"))

  /** R8: switch-style dictionary mapping to taxon URIs
    * (2023.R:96-104). A literal map lookup, not a join — constant-
    * folded per row, no shuffle, null for unmapped keys. */
  val LangTaxon: Map[String, String] = Map(
    "en" -> "http://tun.fi/MX.38240",
    "de" -> "http://tun.fi/MX.39158",
    "fr" -> "http://tun.fi/MX.41695",
    "es" -> "http://tun.fi/MX.38947",
    "zh" -> "http://tun.fi/MX.38815")

  def dictMapCol(c: Column): Column = {
    val m = typedlit(LangTaxon)
    element_at(m, c)
  }

  def dictMap(t: Tables): DataFrame =
    t.documents
      .select(col("lang"), dictMapCol(col("lang")).as("taxon_uri"))
      .groupBy(col("lang"), col("taxon_uri"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** R9: NULL-driven conditional tagging + notes concat (2023.R:106-118:
    * control date NA → no tags; else INVASIVE_PARTIAL + notes). */
  def controlTags(t: Tables): DataFrame = {
    val controlDate = when(col("value") > 120.0, col("ts").cast("date"))
    t.events.select(
        col("event_id"),
        controlDate.as("control_date"),
        when(controlDate.isNotNull, lit("INVASIVE_PARTIAL")).as("source_tag"),
        when(controlDate.isNotNull,
          concat(lit("Controlled: "), controlDate.cast("string"))).as("notes"))
      .orderBy(col("event_id"))
  }

  /** R2+R3: geometry make-valid + shoelace area + ceiling. The ring is
    * built from row values (an axis-aligned quad, deliberately left
    * unclosed so closeRing has work to do); the area function itself is
    * fully general — see GeoFunctionsSpec for irregular polygons. */
  def geoArea(t: Tables): DataFrame = {
    val w = col("l_quantity")
    val h = lit(1.0) + col("l_discount")
    val ring = array(
      struct(lit(0.0).as("x"), lit(0.0).as("y")),
      struct(w.as("x"), lit(0.0).as("y")),
      struct(w.as("x"), h.as("y")),
      struct(lit(0.0).as("x"), h.as("y")))
    areaOfRing(t, ring, GeoFunctions.areaCeilM2)
  }

  /** R2+R3 geodesic variant: the same quad interpreted as a WGS84
    * lon/lat ring near Helsinki (~100 m scale), measured with the
    * spherical-excess closed form instead of the planar shoelace —
    * mirrors `sf::st_area` on geographic coordinates (2023.R:40),
    * where planar degree-space area is simply wrong. Vertex grid:
    * lon spans l_quantity·0.001°, lat spans (1+l_discount)·0.001°. */
  def geoAreaSpherical(t: Tables): DataFrame = {
    val lon0 = lit(24.93)
    val lat0 = lit(60.17)
    val lonW = lit(24.93) + col("l_quantity") * lit(0.001)
    val latH = lit(60.17) + (lit(1.0) + col("l_discount")) * lit(0.001)
    val ring = array( // unclosed on purpose — closeRing has work to do
      struct(lon0.as("x"), lat0.as("y")),
      struct(lonW.as("x"), lat0.as("y")),
      struct(lonW.as("x"), latH.as("y")),
      struct(lon0.as("x"), latH.as("y")))
    areaOfRing(t, ring, GeoFunctions.sphericalAreaCeilM2)
  }

  /** `area` of each lineitem's `ring`, with the ring projected once as a
    * closed column first. The area helpers re-reference their ring in
    * every lambda step, so an inline `array(struct…)` tree would be
    * rebuilt and re-closed at each step of every row; a closed ring
    * column is read as is (and the optimizer keeps the projection,
    * since its consumer references it many times). */
  private def areaOfRing(t: Tables, ring: Column, area: Column => Column): DataFrame =
    t.lineitem.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        GeoFunctions.closeRing(ring).as("ring"))
      .select(col("l_orderkey"), col("l_linenumber"), area(col("ring")).as("area_m2"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** R2 full `st_make_valid` parity: the ring is the same quad as
    * [[geoArea]] but every even order key traverses it in CROSSED
    * (bowtie) vertex order — the classic hand-drawn-polygon defect the
    * reference repairs with `st_make_valid` (2023.R:36-38) before
    * measuring. GeoFunctions.makeValid nodes the self-crossing and sums
    * the simple pieces, so the crossed rows report the repaired area
    * w·h/2 (two triangles) and piece count 2, while proper rows match
    * the plain shoelace. The crossing parameter is exactly 0.5 and every
    * piece area is a power-of-two scaling of fl(w·h), so the doubles —
    * and the trailing ceil — are bit-identical with the oracle's
    * closed-form CASE. */
  def geoAreaValid(t: Tables): DataFrame = {
    val w = col("l_quantity")
    val h = lit(1.0) + col("l_discount")
    val a = struct(lit(0.0).as("x"), lit(0.0).as("y"))
    val b = struct(w.as("x"), lit(0.0).as("y"))
    val c = struct(w.as("x"), h.as("y"))
    val d = struct(lit(0.0).as("x"), h.as("y"))
    val ring = when(col("l_orderkey") % 2 === 0, array(a, b, d, c)) // crossed
      .otherwise(array(a, b, c, d))                                 // proper
    val v = GeoFunctions.makeValid(ring)
    t.lineitem.select(
        col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        ceil(v.getField("area")).cast("long").as("area_m2"),
        v.getField("loops").cast("long").as("pieces"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** R10: deterministic URI minting (2023.R:120-127,143-146,163-166:
    * sprintf documentId / gatheringId / unitId). */
  def mintIds(t: Tables): DataFrame =
    t.events.select(
        col("event_id"),
        format_string(s"http://tun.fi/$CollectionId/%d", col("event_id")).as("document_id"),
        format_string(s"http://tun.fi/$CollectionId/%d_G", col("event_id")).as("gathering_id"),
        format_string(s"http://tun.fi/$CollectionId/%d_U", col("event_id")).as("unit_id"))
      .orderBy(col("event_id"))

  /** R11: keywords construction [id, "crowdsorsa-<municipality>"]
    * (2023.R:131-133), municipality via the broadcast lookup chain.
    * Emitted as a joined string for cross-engine comparability. */
  def keywords(t: Tables): DataFrame =
    t.events.select(col("event_id"), overrideKey(col("user_id")).as("obs_key"))
      .join(broadcast(t.customer.select("c_custkey", "c_nationkey")),
        col("obs_key") === col("c_custkey"))
      .join(broadcast(t.nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("event_id"),
        concat_ws(",",
          col("event_id").cast("string"),
          concat(lit("crowdsorsa-"), col("n_name"))).as("keywords"))
      .orderBy(col("event_id"))
}
