package graft.sources

import graft.SparkSpec
import graft.ingest.Tsv
import org.apache.spark.sql.functions._
import java.nio.file.Files

class BucketingSpec extends SparkSpec {

  test("managed-table rerun survives a stale warehouse location left " +
    "by a dead session (catalog entry gone, files still there)") {
    val t = "bkt_stale_loc_probe"
    spark.sql(s"DROP TABLE IF EXISTS $t")
    // simulate the dead session: files at the default managed location
    // with NO catalog entry — saveAsTable alone would refuse with
    // LOCATION_ALREADY_EXISTS (hit live by the r13 jaccard A/B: a second
    // JVM re-deriving the same dataset-keyed corpus table)
    val loc = new java.io.File(s"spark-warehouse/$t")
    loc.mkdirs()
    Files.write(loc.toPath.resolve("stale.bin"), Array[Byte](1, 2, 3))
    val df = graft.Tables.nation(spark, "/root/testdata/sf0.001")
    Bucketing.writeBucketed(df, t, Seq("n_nationkey"), 2,
      Seq("n_nationkey"))
    assert(spark.table(t).count() == df.count())
    spark.sql(s"DROP TABLE IF EXISTS $t")
  }

  test("stale-location recovery resolves the managed path THROUGH the " +
    "catalog: a non-default current database must never delete a live " +
    "default-db table's files (ADVICE r13)") {
    val live = "bkt_live_default_probe"
    val db = "bkt_probe_db"
    spark.sql(s"DROP TABLE IF EXISTS default.$live")
    spark.sql(s"DROP TABLE IF EXISTS $db.$live")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val df = graft.Tables.nation(spark, "/root/testdata/sf0.001")
    try {
      // a LIVE managed table in the default db, files at
      // <warehouse>/<name> — the path the r13 code would have deleted
      df.write.mode("overwrite").saveAsTable(s"default.$live")
      val liveRows = spark.table(s"default.$live").count()
      assert(liveRows > 0)
      spark.catalog.setCurrentDatabase(db)
      // unqualified name, non-default current db: tableExists resolves
      // against bkt_probe_db (false), and the recovery delete must aim
      // at <warehouse>/bkt_probe_db.db/<name> — NOT the default-db
      // location that a string-concatenated path would hit
      Bucketing.writeBucketed(df, live, Seq("n_nationkey"), 2,
        Seq("n_nationkey"))
      assert(spark.table(s"$db.$live").count() == liveRows)
      // the default-db table's catalog entry AND data survived
      assert(spark.table(s"default.$live").count() == liveRows,
        "live default-db table lost rows — recovery deleted its files")
    } finally {
      spark.catalog.setCurrentDatabase("default")
      spark.sql(s"DROP TABLE IF EXISTS default.$live")
      spark.sql(s"DROP TABLE IF EXISTS $db.$live")
      spark.sql(s"DROP DATABASE IF EXISTS $db")
    }
  }

  test("db-qualified table names write and recover from a stale location") {
    val db = "bkt_qual_db"
    val t = s"$db.bkt_qual_probe"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    val df = graft.Tables.nation(spark, "/root/testdata/sf0.001")
    try {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      Bucketing.writeBucketed(df, t, Seq("n_nationkey"), 4,
        Seq("n_nationkey"))
      assert(spark.table(t).count() == df.count())
      val loc = spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
        .location.toString
      // dead-session rerun shape, qualified: catalog entry gone, files
      // still at the db-scoped managed location
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val locPath = new org.apache.hadoop.fs.Path(loc)
      val fs = locPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(locPath)
      val out = fs.create(new org.apache.hadoop.fs.Path(locPath, "stale.bin"),
        true)
      try out.write(Array[Byte](1, 2, 3)) finally out.close()
      Bucketing.writeBucketed(df, t, Seq("n_nationkey"), 2,
        Seq("n_nationkey"))
      assert(spark.table(t).count() == df.count())
      // the rerun's layout, not the dead session's, is what the catalog
      // now describes
      assert(spark.sessionState.catalog.getTableMetadata(
        spark.sessionState.sqlParser.parseTableIdentifier(t))
        .bucketSpec.map(_.numBuckets).contains(2))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      spark.sql(s"DROP DATABASE IF EXISTS $db")
    }
  }

  test("bucketed tables join with zero exchanges") {
    val sf = "/root/testdata/sf0.001"
    val li = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
    val o = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    // the in-memory catalog forgets tables between JVMs but the warehouse
    // directory survives — clear both
    for (t <- Seq("li_bkt", "o_bkt")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        import scala.reflect.io.Directory
        new Directory(loc).deleteRecursively()
      }
    }
    Bucketing.writeBucketed(li, "li_bkt", Seq("l_orderkey"), 4,
      Seq("l_orderkey"))
    Bucketing.writeBucketed(o, "o_bkt", Seq("l_orderkey"), 4,
      Seq("l_orderkey"))
    // force SMJ so the exchange-free claim is about bucketing, not
    // broadcasting
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("li_bkt").join(spark.table("o_bkt"),
        Seq("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(800))
      assert(!plan.contains("Exchange"), plan.take(1500))
      // and it is still correct
      val n = joined.count()
      val expected = graft.Tables.lineitem(spark, sf)
        .join(graft.Tables.orders(spark, sf),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("landToParquet partitions by load_date and sorts within partitions") {
    val d = Files.createTempDirectory("graft-land")
    graft.Fixtures.writeAll(d)
    val blocks = Tsv.read(spark,
      d.resolve("blockchair_bitcoin_blocks_20250820.tsv.gz").toString,
      graft.schema.BlockchairSchemas.blocks).drop("_corrupt_record")
    val out = Files.createTempDirectory("graft-landed")
    for (day <- Seq("2025-08-20", "2025-08-21"))
      Tsv.landToParquetIdempotent(blocks, day, out.toString, Seq("id"))
    val back = spark.read.parquet(out.toString)
    assert(back.count() == 6)
    assert(back.select("load_date").distinct().count() == 2)
    // each landed file holds its rows in id order (ascending, nulls
    // first, as Spark sorts); the fixture's null id comes last in the dump
    val files = back.select(input_file_name(), col("id")).collect()
      .groupBy(_.getString(0)).values.toSeq
    assert(files.exists(_.length > 1))
    for (rows <- files) {
      val ids = rows.map(r => Option(r.get(1)).map(_.toString.toLong)).toSeq
      assert(ids == ids.sorted, s"landed file out of id order: $ids")
    }
    // partition pruning: filtering one date reads one partition directory
    val pruned = back.filter(col("load_date") === "2025-08-20")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), plan.take(800))
    assert(pruned.count() == 3)
  }
}
