package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core._

class CoreSpec extends SparkTestBase {
  import spark.implicits._

  test("Readers.csv with forced schema and nullValue") {
    val dir = tmpDir("csv1")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "in.csv"),
      "gene,score\nBRCA1,1.5\nTP53,null\n")
    val schema = StructType(Seq(
      StructField("gene", StringType), StructField("score", DoubleType)))
    val df = Readers.csv(spark, s"$dir/in.csv", schema = Some(schema), nullValue = Some("null"))
    val rows = df.orderBy("gene").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("BRCA1", "TP53"))
    assert(rows(0).getDouble(1) == 1.5)
    assert(rows(1).isNullAt(1))
  }

  test("Readers.csvSkipRows drops leading metadata lines (ClinGen S4)") {
    val dir = tmpDir("csv2")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "in.csv"),
      "JUNK LINE 1\nJUNK LINE 2\ngene,score\nBRCA1,1\nTP53,2\n")
    val schema = StructType(Seq(
      StructField("gene", StringType), StructField("score", IntegerType)))
    val df = Readers.csvSkipRows(spark, s"$dir/in.csv", skipRows = 2, schema = schema)
    assert(df.count() == 2)
    assert(df.filter($"gene" === "BRCA1").head().getInt(1) == 1)
  }

  test("Readers.readPath dispatches by extension") {
    val dir = tmpDir("auto")
    Seq(("a", 1), ("b", 2)).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(Readers.readPath(spark, s"$dir/t.parquet").count() == 2)
    Seq(("a", 1)).toDF("k", "v").coalesce(1).write.mode("overwrite").json(s"$dir/t.json")
    assert(Readers.readPath(spark, s"$dir/t.json").count() == 1)
  }

  // Edge cells for CSV/TSV inference: blank and whitespace-only lines
  // (before the header too), duplicate and empty header names, a quoted
  // separator in the header and in cells, doubled quotes, `;`-joined
  // multi-value cells, empty cells, 1e-300 and exact 0, booleans, ISO dates
  // and timestamps, integers beyond Int and beyond Long range.
  private val inferFixture = Seq(
    "",
    "   ",
    "id,score,,id,flag,day,ts,big,huge,multi,\"quoted,name\",note",
    "1,1e-300,x,10,true,2024-01-31,2024-01-31 10:00:00,3000000000,1,a;b;c,\"he said \"\"hi\"\"\",",
    "2,0,,11,false,2023-12-01,2023-12-01 00:00:00,-3000000000,9223372036854775808,d,\"x, y\",z",
    "",
    " ",
    "3,,y,,,,,,,,,",
    "4,0.5,z,12,TRUE,2022-02-28,2022-02-28 23:59:59,1,-2,e;f,\"\"\"lead\",w",
  ).mkString("", "\n", "\n")

  private def write(path: String, text: String): String = {
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)
    path
  }

  /** `readPath`'s schema and rows equal Spark's own `inferSchema` scan
    * with the same reader options.
    */
  private def assertInferParity(path: String, sep: String): Unit = {
    val got = Readers.readPath(spark, path)
    val want = Readers.csv(spark, path, sep = sep, inferSchema = true)
    assert(got.schema == want.schema, s"$path: ${got.schema.treeString} vs ${want.schema.treeString}")
    assert(got.collect().toSeq == want.collect().toSeq, path)
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** One split of at most 64 bytes: the fixture files then span several. */
  private def withTinySplits[T](body: => T): T =
    withConfs("spark.sql.files.maxPartitionBytes" -> "64")(body)

  /** Spark's split size below `maxPartitionBytes`: with a 64-byte open
    * cost, `maxSplitBytes` is (size + 64) / 4 under `local[4]`, so a
    * fixture file spans several splits at the default 128 MB
    * `maxPartitionBytes`.
    */
  private def withSplitsPerCore[T](body: => T): T =
    withConfs("spark.sql.files.openCostInBytes" -> "64", "spark.sql.files.minPartitionNum" -> "4")(body)

  /** Spark jobs started while `body` runs (listener bus drained on both
    * sides, so only this body's jobs are counted).
    */
  private def jobsDuring(body: => Any): Int = {
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("Readers.readPath CSV/TSV schemas and rows equal Spark's inferSchema scan") {
    val dir = tmpDir("infer_parity")
    val csv = write(s"$dir/in.csv", inferFixture)
    val tsv = write(s"$dir/in.tsv", inferFixture.replace(',', '\t'))
    val gz = s"$dir/in.csv.gz"
    scala.util.Using.resource(new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))) {
      _.write(inferFixture.getBytes("UTF-8"))
    }
    val headerOnly = write(s"$dir/header_only.csv", "a,b,,a\n")
    val empty = write(s"$dir/empty.csv", "")
    // A tab-only first line: Spark's header rule trims spaces only, so it
    // is the header line (its data filter drops it as blank).
    val tabLeadCsv = write(s"$dir/tab_lead.csv", "\t\t\n" + inferFixture)
    val tabLeadTsv = write(s"$dir/tab_lead.tsv", "\t\t\n" + inferFixture.replace(',', '\t'))
    for (p <- Seq(csv, gz, headerOnly, empty, tabLeadCsv)) assertInferParity(p, ",")
    for (p <- Seq(tsv, tabLeadTsv)) assertInferParity(p, "\t")
    // The fixture really exercises the inferred types.
    val types = Readers.readPath(spark, csv).schema.fields.map(f => f.name -> f.dataType).toMap
    assert(types("score") == DoubleType && types("flag") == BooleanType && types("big") == LongType)
    assert(types("huge").isInstanceOf[DecimalType] && types("ts") == TimestampType)
    assert(Readers.readPath(spark, tsv).columns.contains("quoted,name".replace(',', '\t')))

    // Fallbacks to Spark's distributed inference: a directory of parts,
    // and a file larger than one split (by maxPartitionBytes, and by the
    // per-core split size); a gzip file is one task at any size.
    val parts = s"$dir/parts.csv"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(parts))
    write(s"$parts/part-0.csv", inferFixture)
    write(s"$parts/part-1.csv", inferFixture)
    assertInferParity(parts, ",")
    def multiSplitParity(): Unit = {
      assertInferParity(csv, ",")
      assertInferParity(tsv, "\t")
      assertInferParity(gz, ",")
    }
    withTinySplits(multiSplitParity())
    withSplitsPerCore(multiSplitParity())
  }

  test("Readers.readPath builds a CSV/TSV DataFrame without running a Spark job") {
    val dir = tmpDir("infer_nojob")
    val csv = write(s"$dir/in.csv", inferFixture)
    val tsv = write(s"$dir/in.tsv", inferFixture.replace(',', '\t'))
    assert(jobsDuring(Readers.readPath(spark, csv)) == 0)
    assert(jobsDuring(Readers.readPath(spark, tsv)) == 0)
    val multi = write(s"$dir/multi.csv", "id,,metrics,\n,name,p,beta\n1,BRCA1,0.5,-1.25\n")
    assert(jobsDuring(Readers.csvMultiHeader(spark, multi, headerRows = 2)) == 0)
    // gzip is not splittable: Spark would infer it in one task whatever
    // the split size, so the driver does.
    val gz = s"$dir/in.csv.gz"
    scala.util.Using.resource(new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))) {
      _.write(inferFixture.getBytes("UTF-8"))
    }
    assert(withTinySplits(jobsDuring(Readers.readPath(spark, gz))) == 0)
    // Files that span several splits do run Spark's inference jobs, so
    // the counts above tell the two paths apart.
    assert(withTinySplits(jobsDuring(Readers.readPath(spark, csv))) > 0)
    assert(withSplitsPerCore(jobsDuring(Readers.readPath(spark, tsv))) > 0)
  }

  test("Readers.csvMultiHeader reads a directory as it reads its one file") {
    val dir = tmpDir("multi_dir")
    val text = "id,,metrics,\n,name,p,beta\n1,BRCA1,0.5,-1.25\n2,TP53,0.1,2\n"
    val file = write(s"$dir/multi.csv", text)
    val parts = s"$dir/parts"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(parts))
    write(s"$parts/part-0.csv", text)
    val viaFile = Readers.csvMultiHeader(spark, file, headerRows = 2)
    val viaDir = Readers.csvMultiHeader(spark, parts, headerRows = 2)
    assert(viaDir.columns.toSeq == viaFile.columns.toSeq)
    assert(viaDir.collect().toSeq == viaFile.collect().toSeq)
  }

  test("Writers.writeJsonGzSingle produces exactly one gz json file (K1)") {
    val dir = tmpDir("sink")
    val out = s"$dir/evidence.json.gz"
    Writers.writeJsonGzSingle(Seq(("g1", 0.5), ("g2", 0.7)).toDF("target", "score"), out)
    assert(new java.io.File(out).isFile)
    val back = spark.read.json(out)
    assert(back.count() == 2)
    assert(back.columns.sorted.toSeq == Seq("score", "target"))
  }

  test("Union.unionByNameAll tolerates missing columns (U1)") {
    val a = Seq((1, "x")).toDF("id", "only_a")
    val b = Seq((2, 9.9)).toDF("id", "only_b")
    val u = Union.unionByNameAll(Seq(a, b))
    assert(u.count() == 2)
    assert(u.columns.sorted.toSeq == Seq("id", "only_a", "only_b"))
    assert(u.filter($"id" === 2).head().getAs[Any]("only_a") == null)
  }

  test("Dedup.topOnePerKey keeps the best row deterministically (W1)") {
    val df = Seq((1, "a", 5.0), (1, "b", 9.0), (1, "c", 9.0), (2, "d", 1.0))
      .toDF("k", "tag", "score")
    val out = Dedup.topOnePerKey(df, Seq("k"), Seq($"score".desc, $"tag".asc))
    val m = out.collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(m == Map(1 -> "b", 2 -> "d")) // tie on 9.0 broken by tag asc
  }

  test("Dedup.bestRowPerKey agrees with window variant") {
    val df = Seq((1, "a", 5.0), (1, "b", 9.0), (2, "d", 1.0)).toDF("k", "tag", "score")
    val viaAgg = Dedup.bestRowPerKey(df, Seq("k"), Seq("score", "tag"))
      .select("k", "tag").as[(Int, String)].collect().toSet
    assert(viaAgg == Set((1, "b"), (2, "d")))
  }

  test("Dedup.exactTextDedup keeps one survivor per normalized text") {
    val df = Seq(
      (1L, "Hello  World"), (2L, "hello world"), (3L, "different"),
    ).toDF("id", "text")
    val out = Dedup.exactTextDedup(df, "id", "text")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("Cleanup.dictReplace only replaces exact matches (R11)") {
    val df = Seq("A", "AB", "R").toDF("flag")
    val out = Cleanup.dictReplace(df, Seq("flag"), Map("A" -> "accepted"))
    assert(out.as[String].collect().sorted.toSeq == Seq("AB", "R", "accepted"))
  }

  test("Cleanup.applyRegexRules applies rulebook in order") {
    val df = Seq("Frontotemporal dementia, TDP-43 type").toDF("phenotype")
    val out = Cleanup.applyRegexRules(df, "phenotype", Seq(
      (",.*$", ""),         // strip qualifier tail
      ("\\s+$", ""),
    ))
    assert(out.head().getString(0) == "Frontotemporal dementia")
  }

  test("Reshape.melt unpivots runtime-discovered columns (R3)") {
    val wide = Seq(("m1", 1.0, 2.0, 3.0)).toDF("id", "gA", "gB", "gC")
    val out = Reshape.melt(wide, Seq("id"), "gene", "effect")
    assert(out.count() == 3)
    assert(out.filter($"gene" === "gB").head().getDouble(2) == 2.0)
  }

  test("Reshape.meltMetricTriplets pivots <entity>_<metric> columns (Encore R3)") {
    val wide = Seq(("p1", 0.01, 0.5, 0.02, 0.7)).toDF(
      "id", "SIDM1_pval", "SIDM1_lfc", "SIDM2_pval", "SIDM2_lfc")
    val out = Reshape.meltMetricTriplets(wide, Seq("id"), Seq("pval", "lfc"), "cellLine")
    assert(out.count() == 2)
    val r = out.filter($"cellLine" === "SIDM2").head()
    assert(r.getAs[Double]("pval") == 0.02 && r.getAs[Double]("lfc") == 0.7)
  }

  test("Reshape.zipWithPad reuses first type for overflow (R9)") {
    val df = Seq((Seq("v1", "v2", "v3"), Seq("t1", "t2"))).toDF("vals", "types")
    val out = df.select(Reshape.zipWithPad($"vals", $"types").as("z"))
      .select(explode($"z").as("p")).select("p.value", "p.type")
      .as[(String, String)].collect().toSeq
    assert(out == Seq(("v1", "t1"), ("v2", "t2"), ("v3", "t1")))
  }

  test("Profile.profile survives hostile column names (quotes, backticks, dots)") {
    // The melt is built with the Column API, never by splicing names into
    // SQL text — names that would break a selectExpr/stack profile fine.
    val df = Seq((1, "x", 2.0), (2, "y", 2.0), (2, null, 3.0))
      .toDF("it's", "back`tick", "dot.ted")
    val out = Profile.profile(df).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet == Set("it's", "back`tick", "dot.ted"))
    assert(out("it's") == ((3L, 0L, 2L)))       // n, nulls, distinct
    assert(out("back`tick") == ((3L, 1L, 2L)))
    assert(out("dot.ted") == ((3L, 0L, 2L)))
  }

  test("OntologyMap.addEfoMapping null-safe joins on both keys (J5/F9)") {
    val evidence = Seq(
      ("asthma", "MONDO:1", "g1"), ("asthma", null, "g2"), (null, null, "g3"),
    ).toDF("diseaseFromSource", "diseaseFromSourceId", "target")
    val lut = Seq(
      ("asthma", "MONDO:1", "EFO_A"), ("asthma", null, "EFO_B"), (null, null, "EFO_C"),
    ).toDF("diseaseFromSource", "diseaseFromSourceId", "diseaseFromSourceMappedId")
    val out = OntologyMap.addEfoMapping(evidence, lut)
    val m = out.select("target", "diseaseFromSourceMappedId")
      .as[(String, String)].collect().toMap
    assert(m == Map("g1" -> "EFO_A", "g2" -> "EFO_B", "g3" -> "EFO_C"))
  }

  test("reciprocalBestMatch: mutuality drops the loser of a roster collision") {
    import org.apache.spark.sql.functions._
    // Probes "smith" and "smyth" both best-match roster "smith"; only
    // the exact probe survives mutuality, and bestMatch keeps BOTH.
    // Blocking key: last 2 chars ("th" shared by all).
    val probes = Seq((1L, "smith"), (2L, "smyth")).toDF("pid", "pname")
    val roster = Seq((10L, "smith")).toDF("rid", "rname")
    val rbm = graft.core.Linkage.reciprocalBestMatch(
      probes, "pid", "pname", roster, "rid", "rname", blockLen = 2, minSim = 0.5)
      .select("d_key", "matched_key").as[(Long, Long)].collect().toSet
    assert(rbm == Set((1L, 10L)), s"only the mutual best survives: $rbm")
    val bm = graft.core.Linkage.bestMatch(
      probes, "pid", "pname", roster, "rid", "rname", blockLen = 2, minSim = 0.5)
      .select("d_key", "matched_key").as[(Long, Long)].collect().toSet
    assert(bm == Set((1L, 10L), (2L, 10L)), "one-directional argmax keeps both")
  }
}
