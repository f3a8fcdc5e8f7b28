package graft

import org.apache.spark.sql.functions._

/** Contracts for the synthetic-decade generator (DataGen): the scale
  * envelope's sf1 leg is generated data, so the generator must (a) match
  * the driver fixtures' SCHEMA exactly — the whole 213-query surface and
  * its DuckDB oracles run against either — and (b) be bit-deterministic,
  * so a regenerated decade reproduces the same gate results.
  */
class DataGenSpec extends SparkSpec {

  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  private lazy val genDir: String = {
    val dir = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "datagen_spec").toString
    DataGen.generate(spark, 0.001, dir)
    dir
  }

  test("generated tables match the driver fixtures' schema exactly") {
    tables.foreach { t =>
      val fix = spark.read.parquet(s"$Sf/$t.parquet").schema
      val gen = spark.read.parquet(s"$genDir/$t.parquet").schema
      // name + type parity field-by-field (nullability differs: fixtures
      // are pandas-written with everything nullable)
      assert(gen.fields.map(f => (f.name, f.dataType)).toSeq ==
             fix.fields.map(f => (f.name, f.dataType)).toSeq,
        s"$t: gen=${gen.simpleString} fixture=${fix.simpleString}")
    }
  }

  test("generation is deterministic: a second run is row-identical") {
    val dir2 = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "datagen_spec2").toString
    DataGen.generate(spark, 0.001, dir2)
    Seq("orders", "lineitem", "documents", "events").foreach { t =>
      val a = spark.read.parquet(s"$genDir/$t.parquet")
      val b = spark.read.parquet(s"$dir2/$t.parquet")
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty, t)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("distribution invariants the oracle queries lean on hold in generated data") {
    // near-dup mechanism: some documents end in " dup" and duplicate an
    // earlier doc's base text (the dd-family's exact-dup substrate)
    val docs = spark.read.parquet(s"$genDir/documents.parquet")
    val dups = docs.filter(col("text").endsWith(" dup")).count()
    assert(dups > 0 && dups < docs.count() / 10, s"dup docs: $dups")
    // n_chars is derived from text (tx-family contract)
    assert(docs.filter(length(col("text")).cast("bigint") =!= col("n_chars"))
      .count() == 0)
    // embeddings are unit-norm 64-d float vectors (nn-family contract)
    val emb = spark.read.parquet(s"$genDir/embeddings.parquet")
      .select(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x).as("ss"), size(col("embedding")).as("d"))
    assert(emb.filter(col("d") =!= 64).count() == 0)
    assert(emb.filter(abs(col("ss") - 1.0) > 0.001).count() == 0)
    // every lineitem joins an existing order (j/q-family contract)
    val li = spark.read.parquet(s"$genDir/lineitem.parquet")
    val ords = spark.read.parquet(s"$genDir/orders.parquet")
    assert(li.join(ords, li("l_orderkey") === ords("o_orderkey"), "left_anti")
      .count() == 0)
  }

  test("Heaps vocab mode: anchored at the fixture below sf0.1, grows above it") {
    // the curve: fixture-identical through the shipped fixtures' 5000
    // docs, ~sqrt growth past it (the round-11 df-cap-saturation fix)
    assert(DataGen.vocabFor(500, heaps = false) == 31)
    assert(DataGen.vocabFor(50000, heaps = false) == 31)
    assert(DataGen.vocabFor(500, heaps = true) == 31)
    assert(DataGen.vocabFor(5000, heaps = true) == 31)
    assert(DataGen.vocabFor(50000, heaps = true) == 98)
    assert(DataGen.vocabFor(500000, heaps = true) == 310)
    // anchoring is byte-level: at a fixture-scale corpus the heaps mode
    // generates EXACTLY the default documents table
    val dir2 = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "datagen_heaps").toString
    DataGen.generate(spark, 0.001, dir2, heapsVocab = true)
    val a = spark.read.parquet(s"$genDir/documents.parquet")
    val b = spark.read.parquet(s"$dir2/documents.parquet")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }

  test("open-vocab mode: Zipf ranks give a realized df<50 tail that IS most of the vocabulary") {
    // the property every closed regime lacks (SCALE.md "Round-16: tx15"):
    // a rare tail with df below any plausible frequency threshold, so the
    // df-threshold operators (tx15 pushdown, dd7 MaxDf, tx19 cap) have a
    // non-degenerate input even at spec scale
    val dir2 = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "datagen_open").toString
    DataGen.generate(spark, 0.001, dir2, openVocab = true)
    val docs = spark.read.parquet(s"$dir2/documents.parquet")
    // schema parity with the fixture regime
    assert(docs.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      spark.read.parquet(s"$genDir/documents.parquet").schema.fields
        .map(f => (f.name, f.dataType)).toSeq)
    val df = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("w"))
      .distinct().groupBy("w").agg(count(lit(1)).as("df"))
    val types = df.count()
    val rare = df.filter(col("df") < 50).count()
    assert(types > 500, s"realized vocabulary $types — not open")
    assert(rare.toDouble / types > 0.5,
      s"df<50 tail is $rare/$types — not a rare-tail regime")
    // the head is the original vocabulary: its words are the most frequent
    val topW = df.orderBy(col("df").desc).limit(5)
      .collect().map(_.getString(0)).toSet
    assert(topW.forall(w => !w.startsWith("w") || w == "window"),
      s"head words $topW should come from the 31-word base vocab")
    // deterministic: a second run is row-identical
    val dir3 = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "datagen_open2").toString
    DataGen.generate(spark, 0.001, dir3, openVocab = true)
    val b2 = spark.read.parquet(s"$dir3/documents.parquet")
    assert(docs.exceptAll(b2).isEmpty && b2.exceptAll(docs).isEmpty)
    Seq(dir2, dir3).foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  test("clustered embeddings: label IS a planted cluster; isotropic mode has none") {
    // the --clustered contract: intra-label cosine ≈ α = 0.75, inter ≈ 0,
    // norms still unit (the marginal stays standard normal per dim) —
    // while the default isotropic mode shows NO label structure. Both
    // properties are what the two-regime recall curve in
    // records/QMETRICS_nn_recall_curve_r18.jsonl leans on.
    val dir2 = java.nio.file.Files.createTempDirectory(graft.model.Fs.root.toPath, "datagen_clu").toString
    DataGen.generate(spark, 0.001, dir2, clustered = true)
    def meanCos(path: String): (Double, Double) = {
      val e = spark.read.parquet(s"$path/embeddings.parquet")
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> cast(x as double))").as("emb"))
        .limit(400)
      val pairs = e.as("a").crossJoin(e.as("b"))
        .filter(col("a.vec_id") < col("b.vec_id"))
        .select((col("a.label") === col("b.label")).as("same"),
          expr("aggregate(zip_with(a.emb, b.emb, (x, y) -> x * y), " +
            "0D, (acc, v) -> acc + v)").as("dp"))
        .groupBy("same").agg(avg("dp").as("m"))
        .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
      (pairs(true), pairs(false))
    }
    val (cluIntra, cluInter) = meanCos(dir2)
    assert(cluIntra > 0.6 && cluIntra < 0.9,
      s"intra-cluster cosine $cluIntra, expected ~0.75")
    assert(math.abs(cluInter) < 0.1, s"inter-cluster cosine $cluInter")
    val (isoIntra, isoInter) = meanCos(genDir)
    assert(math.abs(isoIntra) < 0.1 && math.abs(isoInter) < 0.1,
      s"isotropic mode shows label structure: $isoIntra / $isoInter")
    // unit norms hold in clustered mode too
    val bad = spark.read.parquet(s"$dir2/embeddings.parquet")
      .select(aggregate(col("embedding"), lit(0.0),
        (a, x) => a + x * x).as("ss"))
      .filter(abs(col("ss") - 1.0) > 0.001).count()
    assert(bad == 0, s"$bad non-unit-norm clustered embeddings")
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir2))
  }
}
