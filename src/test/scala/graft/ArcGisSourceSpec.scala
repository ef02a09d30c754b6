package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.arcgis._

class ArcGisSourceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def mkClient(n: Int, pageSize: Int = 10): MockArcGisClient = {
    val fields = Seq(
      ArcGisField("objectid", "esriFieldTypeOID"),
      ArcGisField("name", "esriFieldTypeString"),
      ArcGisField("status", "esriFieldTypeString"),
      ArcGisField("score", "esriFieldTypeDouble"),
      ArcGisField("created", "esriFieldTypeDate")
    )
    val rows = (0 until n).map { i =>
      EsriFeature(
        Map(
          "objectid" -> i.toLong,
          "name" -> s"feat-$i",
          "status" -> (if (i % 3 == 0) "active" else "idle"),
          "score" -> (i * 1.5),
          "created" -> s"2024-01-${1 + i % 28}"
        ),
        Some((i * 1.0, -i * 1.0))
      )
    }
    new MockArcGisClient(fields, rows, pageSize)
  }

  test("S1 full scan paginates across offset partitions") {
    val client = mkClient(37, pageSize = 10)
    ArcGisClientRegistry.register("scan37", client)
    val df = spark.read.format("arcgis").option("client", "scan37").load()
    assert(df.count() == 37)
    // 4 offset windows of 10
    assert(df.rdd.getNumPartitions == 4)
    // schema inferred from layer metadata (S5), dates as strings
    assert(df.schema("created").dataType.typeName == "string")
    assert(df.schema("objectid").dataType.typeName == "long")
    val r = df.filter(col("objectid") === 5).select("name", "geom_x", "geom_y").head()
    assert(r.getString(0) == "feat-5" && r.getDouble(1) == 5.0 && r.getDouble(2) == -5.0)
  }

  test("S3 predicate pushdown compiles to ArcGIS where, residual stays in Spark") {
    val client = mkClient(30)
    ArcGisClientRegistry.register("push30", client)
    val df = spark.read.format("arcgis").option("client", "push30").load()
      .filter(col("status") === "active" && col("score") > 10.0)
    val got = df.select("objectid").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0 until 30).filter(i => i % 3 == 0 && i * 1.5 > 10.0).map(_.toLong))
    // the server saw the compiled conjunction
    assert(client.whereLog.toArray.exists(_.toString.contains("status = 'active'")))
    assert(client.whereLog.toArray.exists(_.toString.contains("score > 10.0")))
    // and the plan records the push
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ArcGisScan"), plan)
  }

  test("S3 user where-string (ARCGIS_QUERY) merges with pushed filters") {
    val client = mkClient(30)
    ArcGisClientRegistry.register("userwhere", client)
    val df = spark.read.format("arcgis")
      .option("client", "userwhere")
      .option("where", "status = 'idle'")
      .load()
      .filter(col("score") <= 6.0)
    val got = df.select("objectid").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0 until 30).filter(i => i % 3 != 0 && i * 1.5 <= 6.0).map(_.toLong))
    assert(client.whereLog.toArray.exists { w =>
      val s = w.toString; s.contains("status = 'idle'") && s.contains("score <= 6.0")
    })
  }

  test("column pruning reaches outFields") {
    val client = mkClient(12)
    ArcGisClientRegistry.register("prune12", client)
    val df = spark.read.format("arcgis").option("client", "prune12").load()
      .select("name")
    assert(df.collect().length == 12)
    assert(client.outFieldsLog.toArray.exists(_.toString == "name"))
  }

  test("S2 queryTopFeatures strategy delegates group-top-k to the server") {
    val client = mkClient(30)
    ArcGisClientRegistry.register("top30", client)
    val df = spark.read.format("arcgis")
      .option("client", "top30")
      .option("strategy", "queryTopFeatures")
      .option("topCount", "2")
      .option("groupByField", "status")
      .option("orderByField", "name")
      .load()
    // 2 statuses × top-2 per group
    assert(df.count() == 4)
  }

  test("filter compiler: unsupported predicates become None (residual)") {
    import org.apache.spark.sql.sources._
    assert(ArcGisFilterCompiler.compile(EqualTo("a", "x'y")).contains("a = 'x''y'"))
    assert(ArcGisFilterCompiler.compile(
      And(EqualTo("a", 1), Or(IsNull("b"), StringStartsWith("c", "p")))
    ).contains("(a = 1 AND (b IS NULL OR c LIKE 'p%'))"))
    assert(ArcGisFilterCompiler.compile(EqualTo("a", java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).isEmpty)
    assert(ArcGisFilterCompiler.compile(StringContains("a", "z")).isEmpty)
  }

  test("runtime (DPP) filters from a selective dim join reach the remote where") {
    val knobs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "10.0"
    )
    val spark2 = spark
    val saved = knobs.map { case (k, _) => k -> spark2.conf.getOption(k) }
    knobs.foreach { case (k, v) => spark2.conf.set(k, v) }
    try {
      import spark2.implicits._
      val client = mkClient(37, pageSize = 10)
      ArcGisClientRegistry.register("rtf37", client)
      val fact = spark2.read.format("arcgis").option("client", "rtf37").load()
      // dim must survive as a scan+filter (a LocalRelation would constant-fold
      // the selective predicate away and DPP would not trigger)
      val dimDir = java.nio.file.Files.createTempDirectory("rtf-dim").toString
      Seq((3L, "x"), (5L, "y")).toDF("objectid", "tag").write.mode("overwrite").parquet(dimDir)
      val dim = spark2.read.parquet(dimDir).filter(col("tag") === "x")
      val j = fact.join(broadcast(dim), Seq("objectid"))
      assert(j.count() == 1)
      // the join-key values discovered at runtime were compiled into the
      // remote where, so the server filtered every page
      assert(client.whereLog.toArray.exists(_.toString.contains("objectid IN (3)")),
        client.whereLog.toArray.mkString(" | "))
    } finally {
      saved.foreach {
        case (k, Some(v)) => spark2.conf.set(k, v)
        case (k, None)    => spark2.conf.unset(k)
      }
    }
  }

  test("reported layer statistics let the planner broadcast a small layer without a hint") {
    import spark.implicits._
    val client = mkClient(20, pageSize = 10)
    ArcGisClientRegistry.register("stats20", client)
    val small = spark.read.format("arcgis").option("client", "stats20").load()
    val big = (0L until 50000L).map(i => (i % 20, s"payload-$i")).toDF("objectid", "p")
    val j = big.join(small, Seq("objectid"))
    j.collect()
    val plan = j.queryExecution.executedPlan.toString
    // 20 rows x ~56B ≈ 1KB → far under the broadcast threshold: the SOURCE's
    // reported stats (not a hint) must drive a broadcast of the arcgis side
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(plan.linesIterator.exists(l => l.contains("BroadcastExchange")), plan)
  }

  test("LIMIT pushes into the pagination planner: pages past the budget are never fetched") {
    val client = mkClient(37, pageSize = 10)
    ArcGisClientRegistry.register("limit37", client)
    val df = spark.read.format("arcgis").option("client", "limit37").load().limit(7)
    assert(df.count() == 7)
    // one page of exactly 7 rows, not 4 pages of 10
    val pages = client.pageLog.toArray.map(_.asInstanceOf[(Long, Int)])
    assert(pages.toSeq == Seq((0L, 7)), pages.toSeq.toString)
    // the pushed limit is visible in the scan description
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedLimit=7"), plan)
  }

  test("bbox predicates compile to a server-side envelope; exactness stays residual") {
    val client = mkClient(30)
    ArcGisClientRegistry.register("env30", client)
    val df = spark.read.format("arcgis").option("client", "env30").load()
      .filter(col("geom_x") >= 5.0 && col("geom_x") <= 10.0 &&
        col("geom_y") >= -10.0 && col("geom_y") <= -5.0)
    val got = df.select("objectid").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (5L to 10L))
    // the server saw the spatial filter (and pruned shipping to it)
    val envs = client.envelopeLog.toArray.map(_.asInstanceOf[graft.sources.arcgis.Envelope])
    assert(envs.nonEmpty)
    assert(envs.forall(e => e.xmin == 5.0 && e.xmax == 10.0 && e.ymin == -10.0 && e.ymax == -5.0))
    // the bbox predicates ALSO stayed residual in Spark (exactness even if a
    // server treats the envelope loosely)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Filter"), plan)
  }

  test("oidRange strategy scans by OBJECTID windows, never sends resultOffset") {
    val client = mkClient(37, pageSize = 10)
    ArcGisClientRegistry.register("oid37", client)
    val df = spark.read.format("arcgis")
      .option("client", "oid37").option("strategy", "oidRange").load()
    assert(df.count() == 37)
    assert(df.rdd.getNumPartitions == 4)
    // every feature request is a range probe at offset 0 — no deep offsets
    val pages = client.pageLog.toArray.map(_.asInstanceOf[(Long, Int)])
    assert(pages.nonEmpty && pages.forall(_._1 == 0L), pages.toSeq.toString)
    assert(client.whereLog.toArray.exists(_.toString.contains("objectid >= ")))
    // no row lost, none duplicated
    val ids = df.select("objectid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 37L))
  }

  test("oidRange auto-fallback when the layer lacks pagination; pushed filters compose") {
    val fields = mkClient(1).fields
    val rows = (0 until 25).map { i =>
      EsriFeature(
        Map("objectid" -> i.toLong, "name" -> s"feat-$i",
          "status" -> (if (i % 3 == 0) "active" else "idle"),
          "score" -> (i * 1.5), "created" -> "2024-01-01"),
        None)
    }
    val client = new MockArcGisClient(fields, rows, pageSize = 10, supportsPagination = false)
    ArcGisClientRegistry.register("nopage25", client)
    val df = spark.read.format("arcgis").option("client", "nopage25").load()
      .filter(col("status") === "active")
    val got = df.select("objectid").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (0 until 25).filter(_ % 3 == 0).map(_.toLong))
    // the compiled predicate AND the OID range ride in one remote where
    assert(client.whereLog.toArray.exists { w =>
      val s = w.toString
      s.contains("status = 'active'") && s.contains("objectid >= ")
    })
  }

  test("oidRange halves a range whose response saturates the page") {
    // 40 dense OIDs with pageSize 10: each width-10 range returns a full
    // page, which cannot prove exhaustion — the reader must split until
    // responses come back short, and still produce exactly-once rows
    val client = mkClient(40, pageSize = 10)
    ArcGisClientRegistry.register("sat40", client)
    val df = spark.read.format("arcgis")
      .option("client", "sat40").option("strategy", "oidRange").load()
    val ids = df.select("objectid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 40L))
    // evidence of halving: a narrower (width-5) range was probed
    assert(client.whereLog.toArray.exists { w =>
      val s = w.toString
      s.contains("objectid >= 0 AND objectid < 5")
    }, client.whereLog.toArray.mkString("\n"))
  }

  test("LIMIT on a non-paginating layer: single unpaginated request when it fits one page") {
    val fields = mkClient(1).fields
    val rows = (0 until 25).map { i =>
      EsriFeature(Map("objectid" -> i.toLong, "name" -> s"feat-$i",
        "status" -> "active", "score" -> 1.0, "created" -> "2024-01-01"), None)
    }
    val client = new MockArcGisClient(fields, rows, pageSize = 10, supportsPagination = false)
    ArcGisClientRegistry.register("nopagelimit", client)
    val df = spark.read.format("arcgis").option("client", "nopagelimit").load().limit(7)
    // the strict mock throws on any resultOffset/resultRecordCount — this
    // passing proves no pagination parameter was sent; engine-side limit trims
    assert(df.count() == 7)
    val pages = client.pageLog.toArray.map(_.asInstanceOf[(Long, Int)])
    assert(pages.toSeq == Seq((0L, -1)), pages.toSeq.toString)
  }

  test("LIMIT larger than the server page on a non-paginating layer: OID ranges + engine trim") {
    val fields = mkClient(1).fields
    val rows = (0 until 30).map { i =>
      EsriFeature(Map("objectid" -> i.toLong, "name" -> s"feat-$i",
        "status" -> "active", "score" -> 1.0, "created" -> "2024-01-01"), None)
    }
    val client = new MockArcGisClient(fields, rows, pageSize = 10, supportsPagination = false)
    ArcGisClientRegistry.register("nopagebiglimit", client)
    val df = spark.read.format("arcgis").option("client", "nopagebiglimit").load().limit(25)
    assert(df.count() == 25) // strict mock would throw on offset pagination
    // every request was an unpaginated OID-range probe
    val pages = client.pageLog.toArray.map(_.asInstanceOf[(Long, Int)])
    assert(pages.nonEmpty && pages.forall(p => p._1 == 0L && p._2 == -1), pages.toSeq.toString)
    assert(client.whereLog.toArray.exists(_.toString.contains("objectid >= ")))
  }

  test("oidRange saturation threshold is the server cap, not the pageSize option") {
    // user pageSize (50) exceeds the server's maxRecordCount (10): every
    // response is capped at 10 rows, which is SHORTER than the option — a
    // planner that compared against the option would declare the range
    // exhausted and silently drop 30 of the 40 rows
    val client = mkClient(40, pageSize = 10)
    ArcGisClientRegistry.register("capsat40", client)
    val df = spark.read.format("arcgis")
      .option("client", "capsat40").option("strategy", "oidRange")
      .option("pageSize", "50").load()
    val ids = df.select("objectid").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (0L until 40L))
  }

  test("oidRange: unusable OID bounds on a non-empty layer fail loudly, not as an empty table") {
    // a server whose stats probe yields nothing usable (no outStatistics
    // support) while the layer plainly has rows
    val base = mkClient(5)
    val mock = new MockArcGisClient(base.fields, base.rows) {
      override def queryStatistics(where: String, groupBy: Seq[String],
          stats: Seq[StatSpec]): Seq[Map[String, Any]] = Seq.empty
    }
    ArcGisClientRegistry.register("oid-nobounds", mock)
    val df = spark.read.format("arcgis")
      .option("client", "oid-nobounds").option("strategy", "oidRange").load()
    val ex = intercept[Exception](df.collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("OBJECTID bounds")),
      s"expected the descriptive bounds error, got: ${messages(ex)}")
  }

  /** A mock layer that counts its metadata fetches. */
  private class CountingClient(base: MockArcGisClient)
      extends MockArcGisClient(base.fields, base.rows, base.pageSize) {
    val infoCalls = new java.util.concurrent.atomic.AtomicInteger()
    override def layerInfo(): LayerInfo = { infoCalls.incrementAndGet(); super.layerInfo() }
  }

  test("layer metadata: IncomingFlow.run fetches it once for the schema, once for the scan") {
    val client = new CountingClient(mkClient(25, pageSize = 10))
    ArcGisClientRegistry.register("meta-incoming", client)
    graft.ops.TakClientRegistry.register("meta-incoming-tak", new graft.ops.MockTakClient)
    assert(graft.ops.IncomingFlow.run(spark, "meta-incoming", "meta-incoming-tak", "L") == 25)
    assert(client.infoCalls.get == 2)
  }

  test("layer metadata: an upsert write fetches it once per job, an append write never") {
    import org.apache.spark.sql.Row
    val client = new CountingClient(mkClient(10, pageSize = 10))
    ArcGisClientRegistry.register("meta-write", client)
    val schema = spark.read.format("arcgis").option("client", "meta-write").load().schema
    val rows = (0 until 8).map(i => Row(null, s"feat-$i", "idle", 1.0, "2024-02-01", 1.0, 2.0))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    assert(df.rdd.mapPartitions(it => Iterator(it.size)).collect().forall(_ > 0))

    client.infoCalls.set(0)
    df.write.format("arcgis").option("client", "meta-write")
      .option("upsertKey", "name").mode("append").save()
    assert(client.infoCalls.get == 1)
    assert(ArcGisWriteStats.last("meta-write").contains((0L, 0L, 8L, 0L)))

    client.infoCalls.set(0)
    df.write.format("arcgis").option("client", "meta-write").mode("append").save()
    assert(client.infoCalls.get == 0)
    assert(ArcGisWriteStats.last("meta-write").contains((8L, 0L, 0L, 0L)))
  }

  test("DSv2 write path: df.write.format(\"arcgis\") appends, upserts, isolates errors") {
    import org.apache.spark.sql.Row
    val client = mkClient(10, pageSize = 10)
    ArcGisClientRegistry.register("w10", client)
    val schema = spark.read.format("arcgis").option("client", "w10").load().schema
    val rows = Seq(
      Row(null, "feat-3", "active", 9.9, "2024-02-01", 1.0, 2.0), // name exists remotely
      Row(null, "brand-new", "idle", 0.5, "2024-02-01", 3.0, 4.0) // name is new
    )
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)

    // S8 append through the format API
    df.write.format("arcgis").option("client", "w10").mode("append").save()
    assert(client.added.size == 2)
    assert(ArcGisWriteStats.last("w10").contains((2L, 0L, 0L, 0L)))

    // S9/S10 upsert: ONE IN-list existence probe per batch splits add/update;
    // the update carries the discovered objectid
    client.added.clear()
    df.write.format("arcgis").option("client", "w10")
      .option("upsertKey", "name").mode("append").save()
    assert(client.added.toArray.map(_.asInstanceOf[EsriFeature].attributes("name")).toSeq
      == Seq("brand-new"))
    val upd = client.updated.toArray.map(_.asInstanceOf[EsriFeature])
    assert(upd.length == 1 && upd.head.attributes("name") == "feat-3")
    assert(upd.head.attributes("objectid").asInstanceOf[Number].longValue() == 3L)
    assert(ArcGisWriteStats.last("w10").contains((1L, 0L, 1L, 0L)))
    // no per-row probes: the only feature queries are IN-list batch lookups
    assert(client.whereLog.toArray.map(_.toString).count(_.contains(" IN (")) >= 1)

    // T8 error isolation: a poisoned feature is counted, the job succeeds
    val poison = new MockArcGisClient(client.fields, client.rows, 10) {
      override def addFeatures(feats: Seq[EsriFeature]): Seq[Either[String, Long]] =
        feats.map { f =>
          if (f.attributes.get("name").contains("bad")) Left("boom")
          else { added.add(f); Right(added.size.toLong) }
        }
    }
    ArcGisClientRegistry.register("wpoison", poison)
    val mixed = spark.createDataFrame(
      spark.sparkContext.parallelize(rows :+
        Row(null, "bad", "idle", 0.0, "2024-02-01", null, null), 2), schema)
    mixed.write.format("arcgis").option("client", "wpoison").mode("append").save()
    assert(poison.added.size == 2)
    assert(ArcGisWriteStats.last("wpoison").contains((2L, 1L, 0L, 0L)))
  }

  test("aggregate pushdown: grouped count/min/max/sum/avg run remotely, zero pages fetched") {
    val client = mkClient(30)
    ArcGisClientRegistry.register("agg30", client)
    val df = spark.read.format("arcgis").option("client", "agg30").load()
      .groupBy("status")
      .agg(
        count(lit(1)).as("n"),
        min(col("score")).as("mn"),
        max(col("score")).as("mx"),
        sum(col("score")).as("sm"),
        avg(col("score")).as("av"))
    val got = df.collect().map(r =>
      r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))))
      .toMap
    val scores = (0 until 30).groupBy(i => if (i % 3 == 0) "active" else "idle")
      .view.mapValues(_.map(_ * 1.5)).toMap
    scores.foreach { case (k, vs) =>
      val (n, mn, mx, sm, av) = got(k)
      assert(n == vs.size && mn == vs.min && mx == vs.max)
      assert(math.abs(sm - vs.sum) < 1e-9 && math.abs(av - vs.sum / vs.size) < 1e-9)
    }
    // the aggregation ran server-side: a statistics call, NO page fetches
    assert(client.statsLog.size() == 1 && client.pageLog.isEmpty,
      s"stats=${client.statsLog.size()} pages=${client.pageLog.size()}")
    val (_, gb, stats) = client.statsLog.get(0)
    assert(gb == Seq("status"))
    assert(stats.map(_.statisticType) == Seq("count", "min", "max", "sum", "avg"))
    // CountStar counts via the never-null OID field
    assert(stats.head.onField == "objectid")
    // and the plan records the push
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushedAggregates="), plan)
    assert(plan.contains("pushedGroupBy=[status]"), plan)
  }

  test("aggregate pushdown: ungrouped global aggregate with pushed filter") {
    val client = mkClient(30)
    ArcGisClientRegistry.register("aggGlobal", client)
    val df = spark.read.format("arcgis").option("client", "aggGlobal").load()
      .filter(col("status") === "active")
      .agg(count(lit(1)).as("n"), sum(col("score")).as("sm"))
    val r = df.head()
    val vs = (0 until 30).filter(_ % 3 == 0).map(_ * 1.5)
    assert(r.getLong(0) == vs.size && math.abs(r.getDouble(1) - vs.sum) < 1e-9)
    assert(client.pageLog.isEmpty)
    val (w, gb, _) = client.statsLog.get(client.statsLog.size() - 1)
    assert(gb.isEmpty && w.contains("status = 'active'"))
  }

  test("aggregate pushdown declines date fields and distinct; scan falls back to pages") {
    val client = mkClient(12)
    ArcGisClientRegistry.register("aggDecline", client)
    val base = spark.read.format("arcgis").option("client", "aggDecline").load()
    // min over a date-typed layer field: remote epoch-millis vs engine
    // string surface → engine-side aggregation over a normal page scan
    val r1 = base.groupBy("status").agg(min(col("created"))).collect()
    assert(r1.nonEmpty && client.pageLog.size() > 0)
    client.pageLog.clear(); client.statsLog.clear()
    // count(distinct) is outside the remote dialect
    val r2 = base.agg(countDistinct(col("status"))).head()
    assert(r2.getLong(0) == 2 && client.statsLog.isEmpty && client.pageLog.size() > 0)
  }
}
