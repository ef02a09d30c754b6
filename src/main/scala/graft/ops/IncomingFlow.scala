package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.concurrent.TrieMap
import graft.sources.arcgis.ArcGisSchema

/** S7 — the TAK FeatureCollection sink (reference `this.submit(fc)`,
  * `/root/reference/task.ts:420-423,455-457`, [lib @tak-ps/etl] pin
  * `package-lock.json:799-803`): features are serialized to GeoJSON and
  * POSTed in batches. Transport is a trait so tests capture submissions.
  */
trait TakClient extends Serializable {
  /** Submit one batch of GeoJSON feature strings (a FeatureCollection page). */
  def submit(features: Seq[String]): Unit
}

object TakClientRegistry {
  private val clients = TrieMap.empty[String, TakClient]
  def register(key: String, client: TakClient): Unit = clients.put(key, client)
  def get(key: String): TakClient =
    clients.getOrElse(key, throw new IllegalArgumentException(s"no TAK client registered under '$key'"))
}

class MockTakClient extends TakClient {
  val submitted = new java.util.concurrent.CopyOnWriteArrayList[String]()
  override def submit(features: Seq[String]): Unit = features.foreach(submitted.add)
}

/** §3.1 — the reference's flagship incoming path as one composition:
  * ArcGIS scan (S1-S5, with pushdown) → feature normalization
  * (P4 null-geometry drop → T1 id namespace → T2 metadata nest → T3
  * Multi explode; same order as `control()`, `task.ts:425-453`) →
  * count log (A1) → TAK submit (S7).
  */
object IncomingFlow {

  /** Normalized feature frame from an ArcGIS layer: `id` namespaced,
    * dynamic attributes nested under `properties.metadata` (as strings —
    * the schema-less escape hatch, SURVEY.md §1.2), geometry from the
    * layer's point coordinates.
    */
  def features(
      spark: SparkSession,
      clientKey: String,
      layerId: String,
      where: Option[String] = None
  ): DataFrame = {
    val reader = spark.read.format("arcgis").option("client", clientKey)
    val scan = where.fold(reader)(w => reader.option("where", w)).load()

    val attrCols = scan.columns.filterNot(c => c == "geom_x" || c == "geom_y")
    val propsMap = map(
      attrCols.flatMap(c => Seq(lit(c), col(c).cast("string"))).toSeq: _*
    )
    // the feature id is the layer's esriFieldTypeOID field, whatever its
    // name (hosted shapefile layers call it FID); `objectid` when the
    // schema carries no OID marker (a user-supplied schema)
    val oid = ArcGisSchema.oidColumn(scan.schema).getOrElse("objectid")
    val raw = scan.select(
      col(oid).cast("string").as("id"),
      propsMap.as("properties"),
      when(
        col("geom_x").isNotNull,
        struct(
          lit("Point").as("gtype"),
          array(col("geom_x"), col("geom_y")).as("point"),
          lit(null).cast("array<array<double>>").as("lines"),
          lit(null).cast("array<array<array<double>>>").as("rings"),
          lit(null).cast("array<array<array<array<double>>>>").as("polys")
        )
      ).as("geometry")
    )
    // reference order (task.ts:425-447): drop null geometry, namespace the
    // id, nest metadata, THEN explode (child ids inherit the namespace)
    val chain =
      FeatureOps.explodeMulti(
        FeatureOps.nestMetadata(
          FeatureOps.idNamespace(layerId)(
            FeatureOps.dropNullGeometry(raw)
          )
        )
      )
    chain
  }

  /** Run the full path: normalize → serialize to GeoJSON → submit per
    * partition in batches (the reference accumulates the whole collection
    * in heap, `task.ts:420-447`; here pages stream through executors).
    * Returns the submitted feature count (the reference's A1 log line).
    */
  def run(
      spark: SparkSession,
      arcgisClientKey: String,
      takClientKey: String,
      layerId: String,
      where: Option[String] = None
  ): Long = {
    val fc = features(spark, arcgisClientKey, layerId, where)
    val json = fc.select(
      to_json(
        struct(
          col("id"),
          lit("Feature").as("type"),
          col("properties"),
          struct(
            col("geometry.gtype").as("type"),
            col("geometry.point").as("coordinates")
          ).as("geometry")
        )
      ).as("feature_json")
    )
    val count = spark.sparkContext.longAccumulator("tak_submitted")
    json.foreachPartition { (it: Iterator[Row]) =>
      val client = TakClientRegistry.get(takClientKey)
      it.grouped(500).foreach { batch =>
        client.submit(batch.map(_.getString(0)))
        count.add(batch.size)
      }
    }
    count.value
  }
}
