package graft.schema

import graft.{Fixtures, SparkSpec}
import java.nio.file.Files

class SchemaPipelineSpec extends SparkSpec {

  test("infer → widen → persist lifecycle across runs") {
    val data = Files.createTempDirectory("graft-sp-data")
    Fixtures.writeAll(data)
    val schemas = Files.createTempDirectory("graft-sp-schemas")
    val tsv = data.resolve("blockchair_bitcoin_blocks_20250820.tsv.gz")

    // first run: no prior schema → Updated, files persisted
    val r1 = SchemaPipeline.run(spark, tsv.toString, "BLOCKS_RAW", schemas)
    assert(r1.isInstanceOf[SchemaPipeline.Updated])
    val ddl = r1.asInstanceOf[SchemaPipeline.Updated].ddl
    assert(ddl.startsWith("CREATE OR REPLACE TABLE BLOCKS_RAW ("))
    assert(ddl.contains("TIME TIMESTAMP"))
    assert(ddl.contains("ID INTEGER"))
    assert(Files.exists(schemas.resolve("BLOCKS_RAW.json")))
    assert(Files.exists(schemas.resolve("BLOCKS_RAW.sql")))

    // second run, same data: all-equal → Skipped (SchemaSkipError analog)
    val r2 = SchemaPipeline.run(spark, tsv.toString, "BLOCKS_RAW", schemas)
    assert(r2 == SchemaPipeline.Skipped)

    // a widened feed (longer hashes) → Updated again
    val widened = data.resolve("widened_blocks_20250821.tsv")
    val longHash = "x" * 100
    Files.writeString(widened,
      Fixtures.blocksHeader + "\n" +
        Fixtures.blocksRows.head.replace("b100hash", longHash) + "\n")
    val r3 = SchemaPipeline.run(spark, widened.toString, "BLOCKS_RAW",
      schemas)
    assert(r3.isInstanceOf[SchemaPipeline.Updated])
    assert(r3.asInstanceOf[SchemaPipeline.Updated].ddl
      .contains("HASH VARCHAR(128)"))

    // a narrowed feed → Kept (old schema retained)
    val r4 = SchemaPipeline.run(spark, tsv.toString, "BLOCKS_RAW", schemas)
    assert(r4.isInstanceOf[SchemaPipeline.Kept])
    assert(Files.readString(schemas.resolve("BLOCKS_RAW.json"))
      .contains("VARCHAR(128)"))
  }

  test("a schema dir holding only a .sql file seeds the widening gate") {
    val data = Files.createTempDirectory("graft-sp-ddl-data")
    Fixtures.writeAll(data)
    val tsv = data.resolve("blockchair_bitcoin_blocks_20250820.tsv.gz")
    // the fixture's own DDL, with HASH declared wider than the feed
    val probe = Files.createTempDirectory("graft-sp-ddl-probe")
    SchemaPipeline.run(spark, tsv.toString, "BLOCKS_RAW", probe)
    val ddl = Files.readString(probe.resolve("BLOCKS_RAW.sql"))
      .replaceAll("(?m)^(\\s+HASH) VARCHAR\\(\\d+\\)", "$1 VARCHAR(262144)")
    assert(ddl.contains("HASH VARCHAR(262144)"), ddl)
    val schemas = Files.createTempDirectory("graft-sp-ddl-schemas")
    Files.writeString(schemas.resolve("BLOCKS_RAW.sql"), ddl)

    // no JSON dump: the .sql text is the persisted schema, so the
    // fixture's narrower HASH is rejected and nothing is rewritten
    val r = SchemaPipeline.run(spark, tsv.toString, "BLOCKS_RAW", schemas)
    assert(r.isInstanceOf[SchemaPipeline.Kept], r)
    assert(r.asInstanceOf[SchemaPipeline.Kept].reason.startsWith("HASH:"), r)
    assert(!Files.exists(schemas.resolve("BLOCKS_RAW.json")))
    assert(Files.readString(schemas.resolve("BLOCKS_RAW.sql")) == ddl)
  }
}
