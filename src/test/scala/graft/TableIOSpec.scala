package graft

import org.apache.spark.sql.functions._
import graft.sources.{IcebergTableIO, ParquetTableIO, TableIO}

/** The lakehouse seam: parquet impl round-trips (the local default) and
  * the config gate + ref mapping for the Iceberg impl (no Iceberg runtime
  * ships in this sandbox, so its catalog calls are exercised only up to
  * the generic-API boundary). */
class TableIOSpec extends SparkTestBase {

  test("parquet impl: write/read round-trip, append, exists, children") {
    import spark.implicits._
    val base = tempDir("tio").toString
    val io = ParquetTableIO
    val df = Seq((1L, "a"), (2L, "b")).toDF("k", "v")

    assert(!io.exists(spark, s"$base/t1"))
    io.write(df, s"$base/t1")
    assert(io.exists(spark, s"$base/t1"))
    assert(io.read(spark, s"$base/t1").count() == 2)

    io.append(df.select(col("k") + 10 as "k", col("v")), s"$base/t1")
    assert(io.read(spark, s"$base/t1").count() == 4)

    // children lists only committed sub-tables
    io.write(df, s"$base/parent/superstep=1")
    io.write(df, s"$base/parent/superstep=2")
    new java.io.File(s"$base/parent/superstep=3").mkdirs() // torn: no _SUCCESS
    assert(ParquetTableIO.children(spark, s"$base/parent").toSet ==
      Set("superstep=1", "superstep=2"))

    // committed: the stage-skip predicate — a torn (killed mid-write) dir
    // EXISTS but is NOT committed, so resume must recompute it
    assert(io.committed(spark, s"$base/t1"))
    assert(io.exists(spark, s"$base/parent/superstep=3"))
    assert(!io.committed(spark, s"$base/parent/superstep=3"))
  }

  test("parquet impl: committed/children honor " +
      "mapreduce.fileoutputcommitter.marksuccessfuljobs=false — a valid " +
      "markerless table (object-store tuning, non-Spark writer) is not " +
      "branded torn (review r5)") {
    import spark.implicits._
    val base = tempDir("tio4").toString
    val io = ParquetTableIO
    io.write(Seq((1L, "a")).toDF("k", "v"), s"$base/p/superstep=1")
    // simulate a markerless writer: drop the marker the committer left
    assert(new java.io.File(s"$base/p/superstep=1/_SUCCESS").delete())
    assert(!io.committed(spark, s"$base/p/superstep=1"))
    assert(io.children(spark, s"$base/p").isEmpty)
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try {
      // deployment opted out of markers: existence IS the commit signal
      assert(io.committed(spark, s"$base/p/superstep=1"))
      assert(io.children(spark, s"$base/p") == Seq("superstep=1"))
    } finally
      hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("checkpoint store goes through the seam (save + latest round-trip)") {
    import spark.implicits._
    val dir = tempDir("tio3").toString
    val cfg = graft.runtime.CheckpointConfig(dir, "r1")
    val st = Seq((1L, 0.5), (2L, 0.7)).toDF("id", "rank")
    val io = TableIO.forSession(spark)
    io.write(st, graft.runtime.Checkpoints.stateDir(cfg, "pr", 4))
    io.write(st.withColumn("rank", col("rank") * 2),
      graft.runtime.Checkpoints.stateDir(cfg, "pr", 8))
    val Some((step, frame)) = graft.runtime.Checkpoints.latest(spark, cfg, "pr")
    assert(step == 8)
    assert(frame.agg(sum("rank")).first().getDouble(0) == 2.4)
  }

  test("config gate selects the impl; iceberg ref mapping is stable, " +
      "readable, and INJECTIVE (colliding sanitizations get distinct tables)") {
    assert(TableIO.forSession(spark) == ParquetTableIO)
    val ice = new IcebergTableIO("lake")
    // readable part unchanged; deterministic
    assert(ice.sanitized("/ck/run1/cc/superstep=3") == "ck_run1_cc_superstep_3")
    assert(ice.sanitized("a//b==c") == "a_b_c")
    assert(ice.tableName("x/y") == ice.tableName("x/y"))
    assert(ice.tableName("x/y").startsWith("x_y_h"))
    // the r2 collision: distinct refs, same sanitization → now distinct
    val collide = Seq("a/b", "a_b", "a-b", "a=b", "a//b")
    assert(collide.map(ice.tableName).distinct.size == collide.size,
      "distinct refs must map to distinct tables")
    // child-name contract: sanitized child name with the hash stripped —
    // the regex Checkpoints.latest applies still extracts the step
    val childName = ice.tableName("/ck/r/pr/superstep=12")
      .stripPrefix(ice.sanitized("/ck/r/pr") + "_")
      .replaceAll("_h[0-9a-f]{8}$", "")
    assert(childName == "superstep_12")
    val stepRe = "superstep[=_]?(\\d+)".r
    assert(stepRe.findFirstMatchIn(childName).map(_.group(1)) == Some("12"))
  }

  test("DSv2 smoke: IcebergTableIO write/read/append/exists/children + " +
      "checkpoint latest() EXECUTE against an in-memory catalog " +
      "(VERDICT r3 next #6)") {
    import spark.implicits._
    spark.conf.set("spark.sql.catalog.graftmem", classOf[TestTableCatalog].getName)
    spark.conf.set(TableIO.ImplKey, "iceberg")
    spark.conf.set(TableIO.CatalogKey, "graftmem")
    try {
      TestTableCatalog.clear()
      val io = TableIO.forSession(spark)
      assert(io.isInstanceOf[IcebergTableIO], "config gate selects the catalog impl")
      val df = Seq((1L, 0.5), (2L, 1.5)).toDF("id", "rank")
      val ref = "ck/run1/pagerank/superstep=3"

      assert(!io.exists(spark, ref))
      io.write(df, ref) // createOrReplace path
      assert(io.exists(spark, ref))
      assert(io.read(spark, ref).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSet == Set((1L, 0.5), (2L, 1.5)))

      io.append(Seq((3L, 2.5)).toDF("id", "rank"), ref)
      assert(io.read(spark, ref).count() == 3, "append lands on the existing table")
      io.write(df, ref) // overwrite replaces, not accumulates
      assert(io.read(spark, ref).count() == 2)

      io.write(df, "ck/run1/pagerank/superstep=5")
      assert(io.children(spark, "ck/run1/pagerank").toSet ==
        Set("superstep_3", "superstep_5"))

      // the full engine path: checkpoint discovery through the catalog
      val cfg = graft.runtime.CheckpointConfig("ck", "run1", every = 1)
      val latest = graft.runtime.Checkpoints.latest(spark, cfg, "pagerank")
      assert(latest.map(_._1) == Some(5), "latest() finds the max superstep table")
      assert(latest.get._2.count() == 2)
    } finally {
      spark.conf.unset(TableIO.ImplKey)
      spark.conf.unset(TableIO.CatalogKey)
      TestTableCatalog.clear()
    }
  }

  test("DSv2: checkpoint discovery on a FRESH catalog (namespace not yet " +
      "created) reports 'no checkpoints' instead of crashing (review r5)") {
    spark.conf.set("spark.sql.catalog.graftfresh",
      classOf[FreshNamespaceCatalog].getName)
    spark.conf.set(TableIO.ImplKey, "iceberg")
    spark.conf.set(TableIO.CatalogKey, "graftfresh")
    try {
      TestTableCatalog.clear()
      val io = TableIO.forSession(spark)
      assert(io.children(spark, "ck/run1/pagerank") == Nil,
        "a namespace-less catalog lists no children")
      val cfg = graft.runtime.CheckpointConfig("ck", "run1", every = 1)
      assert(graft.runtime.Checkpoints.latest(spark, cfg, "pagerank").isEmpty,
        "resume against a fresh catalog starts from scratch, not a crash")
    } finally {
      spark.conf.unset(TableIO.ImplKey)
      spark.conf.unset(TableIO.CatalogKey)
      TestTableCatalog.clear()
    }
  }
}
