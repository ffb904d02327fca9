package graft

import java.nio.file.Files
import graft.sources.{Ingest, SeriesFiles}

class SeriesFilesSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val dir = tempDir("graft_land")
    Files.writeString(java.nio.file.Paths.get(dir, name), content)
    dir
  }

  test("CSV landing: explicit schema, corrupt rows quarantined not fatal") {
    val dir = write("series.csv",
      """month,emp
        |2020-01-01,100
        |garbage-row,not-a-number
        |2020-02-01,200
        |""".stripMargin)
    val landed = SeriesFiles.readSeriesCsv(spark, dir)
    assert(landed.count() == 3, "permissive mode must keep corrupt rows visible")
    val clean = SeriesFiles.clean(landed).orderBy("month").collect()
    assert(clean.map(_.getLong(1)).toSeq == Seq(100L, 200L))
  }

  test("parquet schema evolution: mergeSchema unions landed generations") {
    import org.apache.spark.sql.functions._
    // generation 1 lands (month, emp); generation 2 adds a revision
    // column — the additive-evolution case a long-lived landing zone
    // hits. mergeSchema unions the generations; old rows read the new
    // column as NULL; an explicit-schema read pins the contract.
    val dir = tempDir("graft_evolve")
    val s = spark
    import s.implicits._
    Seq(("2020-01-01", 100L)).toDF("month", "emp")
      .withColumn("month", to_date(col("month")))
      .write.parquet(s"$dir/gen1")
    Seq(("2020-02-01", 200L, 2L)).toDF("month", "emp", "revision")
      .withColumn("month", to_date(col("month")))
      .write.parquet(s"$dir/gen2")
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/gen1", s"$dir/gen2")
      .orderBy("month")
    assert(merged.schema.fieldNames.contains("revision"))
    val rows = merged.select("emp", "revision").collect()
    assert(rows.map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSeq == Seq((100L, -1L), (200L, 2L)))
    // explicit schema (the S3 discipline): old-contract readers are
    // unaffected by the added column
    val pinned = spark.read
      .schema("month DATE, emp BIGINT")
      .parquet(s"$dir/gen1", s"$dir/gen2").orderBy("month")
    assert(pinned.schema.fieldNames.toSeq == Seq("month", "emp"))
    assert(pinned.count() == 2)
  }

  test("JSON landing parses and feeds the upsert load step") {
    val dir = write("series.json",
      """{"month":"2020-01-01","emp":100}
        |{"month":"2020-02-01","emp":200}
        |{"bad json
        |""".stripMargin)
    val clean = SeriesFiles.clean(SeriesFiles.readSeriesJson(spark, dir))
    assert(clean.count() == 2)
    // end-to-end: landed file -> upsert merge (the reference's E->T->L)
    val incoming = clean.withColumn("v", org.apache.spark.sql.functions.lit(2L))
    val existing = clean.limit(1).withColumn("v", org.apache.spark.sql.functions.lit(1L))
    val merged = Ingest.upsert(existing, incoming, "month", "v")
    assert(merged.count() == 2)
  }
}
