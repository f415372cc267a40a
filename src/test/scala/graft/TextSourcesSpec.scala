package graft

import graft.sources.TextSources

class TextSourcesSpec extends SparkSpec {
  import spark.implicits._

  private def docsOrdered = Tables.documents(spark, Sf).orderBy("doc_id")

  test("JSONL round-trip: documents → jsonl → read back is identity") {
    val dir = scratchDir("jsonl_rt")
    TextSources.writeJsonl(Tables.documents(spark, Sf), s"$dir/docs")
    val back = TextSources.readJsonl(spark, s"$dir/docs")
    val (good, bad) = TextSources.quarantine(back)
    assert(bad.count() == 0)
    assert(good.schema.fieldNames.toSeq == docsOrdered.schema.fieldNames.toSeq)
    assert(good.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      docsOrdered.collect().map(_.toSeq).toSeq)
  }

  test("JSONL corrupt lines quarantine instead of failing the read") {
    val dir = scratchDir("jsonl_bad")
    val p = java.nio.file.Paths.get(dir, "shard.jsonl")
    java.nio.file.Files.writeString(p,
      """{"doc_id": 1, "text": "good row", "lang": "en", "source": "web", "n_chars": 8}
        |{"doc_id": 2, "text": "truncated
        |not json at all
        |
        |{"doc_id": 3, "text": "also good", "lang": "de", "source": "web", "n_chars": 9}
        |""".stripMargin)
    val (good, bad) = TextSources.quarantine(TextSources.readJsonl(spark, p.toString))
    assert(good.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(bad.count() == 2) // torn lines kept raw for triage; blank line dropped
    val raws = bad.select("raw_line").as[String].collect()
    assert(raws.exists(_.contains("not json at all")))
  }

  test("CSV round-trip survives quotes, commas, and newlines in text (bronze split)") {
    val dir = scratchDir("csv_rt")
    val tricky = Seq(
      (1L, "plain text", "en", "web", 10L),
      (2L, "comma, inside", "en", "web", 13L),
      (3L, "a \"quoted\" word", "de", "web", 15L),
      (4L, "line\nbreak survives quoting", "fr", "web", 27L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    TextSources.writeCsv(tricky, s"$dir/docs")
    // the production flow: parse → bronze parquet → split from there
    // (the raw CSV scan's internal corrupt column cannot be queried
    // alone; the persisted parse has no such restriction)
    TextSources.readCsv(spark, s"$dir/docs")
      .write.mode("overwrite").parquet(s"$dir/bronze")
    val (good, bad) = TextSources.quarantine(spark.read.parquet(s"$dir/bronze"))
    assert(bad.count() == 0)
    assert(good.orderBy("doc_id").collect().map(_.toSeq).toSeq ==
      tricky.orderBy("doc_id").collect().map(_.toSeq).toSeq)
  }

  test("CSV type-mismatch rows quarantine through the bronze flow") {
    val dir = scratchDir("csv_bad")
    val p = java.nio.file.Paths.get(dir, "shard.csv")
    java.nio.file.Files.writeString(p,
      """doc_id,text,lang,source,n_chars
        |1,alpha,en,web,5
        |oops,beta,de,web,4
        |3,gamma,fr,web,5
        |""".stripMargin)
    TextSources.readCsv(spark, p.toString)
      .write.mode("overwrite").parquet(s"$dir/bronze")
    val (good, bad) = TextSources.quarantine(spark.read.parquet(s"$dir/bronze"))
    assert(good.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(bad.count() == 1)
    assert(bad.select("raw_line").as[String].collect().head.startsWith("oops"))
  }

  test("j1/j2 ingest audits: torn-rule counts and clean-side sums agree across formats") {
    val sf = "/root/testdata/sf0.001"
    val j1 = graft.operators.IngestQueries.jsonlIngest(spark, sf).collect()(0)
    val j2 = graft.operators.IngestQueries.csvIngest(spark, sf).collect()(0)
    // both formats carry the same corpus and the same tearing rule,
    // so the audits must agree exactly — and the quarantine count
    // must match the doc_id % 7 == 3 rule on the bounded corpus
    assert(j1 == j2, s"$j1 vs $j2")
    val docs = Tables.documents(spark, sf)
      .filter(org.apache.spark.sql.functions.col("doc_id") <
        graft.sources.IngestFixtures.DocLimit)
    val torn = docs.filter(org.apache.spark.sql.functions.expr("doc_id % 7 = 3")).count()
    assert(j1.getLong(1) == torn && j1.getLong(0) == docs.count() - torn)
  }

  test("explicit schema means no inference scan: read plans carry the declared types") {
    val dir = scratchDir("jsonl_schema")
    TextSources.writeJsonl(Tables.documents(spark, Sf).limit(5), s"$dir/docs")
    val df = TextSources.readJsonl(spark, s"$dir/docs")
    assert(df.schema("doc_id").dataType.typeName == "long")
    assert(df.schema("n_chars").dataType.typeName == "long")
    // corrupt-record accounting column present, computed (not the
    // file source's restricted internal column)
    assert(df.schema.fieldNames.contains("_corrupt_record"))
  }
}
