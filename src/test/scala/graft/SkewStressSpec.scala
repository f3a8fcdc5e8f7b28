package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.DedupOps
import graft.sources.Tables

/** Skew stress for the dedup family: a boilerplate-heavy corpus (a fixed
  * ~200-word template block appended to 50% of documents — docs average
  * ~56 words, so the template dominates each affected doc's shingle set)
  * is the canonical hot-bucket hazard SCALE.md's df-cap (DedupOps.MaxDf)
  * exists for. This suite measures the cap DOING its job, not just
  * arguing it by construction:
  *
  *  - dd2 (UNCAPPED MinHash LSH) blows up: the template's minhash minima
  *    are identical across every boilerplated doc, so a constant
  *    fraction of the corpus lands in one bucket and candidates go
  *    near-quadratic in the template's document frequency;
  *  - dd7 (cap BEFORE hashing) and dd3 (capped Jaccard self-join) stay
  *    flat: the template shingles have df ≈ corpus/2 >> MaxDf and are
  *    dropped before any join or signature, so candidates stay at the
  *    uniform corpus's level.
  *
  * The corpus dir is env-overridable (GRAFT_SKEW_SF) so the same suite
  * produces the BENCH_NOTES datapoint at sf0.01.
  */
class SkewStressSpec extends SparkSpec {

  private val corpusDir: String = sys.env.getOrElse("GRAFT_SKEW_SF", Sf)

  /** 50%-boilerplated copy of the corpus, written as its own table dir
    * so the registered queries (and their per-dir caches) run unmodified
    * against it. */
  private lazy val skewDir: String = {
    val dir = Files.createTempDirectory(graft.model.Fs.root.toPath, "skew").toString
    val boiler = (1 to 200).map(i => s"boilertoken$i").mkString(" ")
    Tables.documents(spark, corpusDir)
      .withColumn("text",
        when(col("doc_id") % 2 === 0, concat(col("text"), lit(" " + boiler)))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def timedCount(name: String, dir: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = run(name, dir).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  test("df-cap keeps dd7/dd3 flat while uncapped dd2 goes hot-bucket") {
    val results = for {
      name <- Seq("dd2_minhash_lsh", "dd7_minhash_dfcap", "dd3_jaccard_pairs")
      dir <- Seq(corpusDir, skewDir)
    } yield {
      val (n, sec) = timedCount(name, dir)
      val label = if (dir == skewDir) "skew" else "uniform"
      info(f"$name%-18s $label%-8s $n%7d pairs  $sec%6.2fs")
      (name, label, n, sec)
    }
    val byKey = results.map(r => (r._1, r._2) -> r._3).toMap

    // dd2 without the cap: the template's shared minhash minima create a
    // hot bucket holding a constant fraction of the corpus — candidates
    // explode by orders of magnitude
    val dd2Uniform = byKey(("dd2_minhash_lsh", "uniform"))
    val dd2Skew = byKey(("dd2_minhash_lsh", "skew"))
    assert(dd2Skew > 20 * math.max(1L, dd2Uniform),
      s"expected uncapped dd2 to blow up: uniform=$dd2Uniform skew=$dd2Skew")

    // dd7 with cap-before-hash: template shingles (df ≈ n/2 >> MaxDf)
    // never reach the signatures — candidates stay at the uniform level
    // (the ≤2 doc-specific joint shingles per doc can nudge minima, so
    // allow a small factor, nothing bucket-shaped)
    val dd7Uniform = byKey(("dd7_minhash_dfcap", "uniform"))
    val dd7Skew = byKey(("dd7_minhash_dfcap", "skew"))
    assert(dd7Skew <= 3 * math.max(4L, dd7Uniform) && dd7Skew < dd2Skew / 4,
      s"dd7 must stay flat under skew: uniform=$dd7Uniform skew=$dd7Skew dd2Skew=$dd2Skew")

    // dd3's intersection join runs over capped shingles only: the
    // template contributes NO joinable shingles, and each affected doc
    // gains at most 2 doc-specific joint shingles (never shared), so the
    // intersection relation is identical — only the union sizes grow,
    // which can only LOWER Jaccard below the threshold
    val dd3Uniform = byKey(("dd3_jaccard_pairs", "uniform"))
    val dd3Skew = byKey(("dd3_jaccard_pairs", "skew"))
    assert(dd3Skew <= dd3Uniform,
      s"dd3 skew pairs can only drop: uniform=$dd3Uniform skew=$dd3Skew")
    assert(dd3Skew >= dd3Uniform / 2,
      s"dd3 should not collapse either: uniform=$dd3Uniform skew=$dd3Skew")
  }

  test("dd9 components stay flat under skew (capped edge list holds)") {
    // the component builder consumes dd7's capped pairs, so the
    // boilerplate hot bucket must not reach it: the clustered-doc count
    // on the skewed corpus stays at the uniform corpus's scale instead
    // of going corpus-fraction-quadratic
    val uniform = run("dd9_dup_components", corpusDir)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    val skew = run("dd9_dup_components", skewDir)
      .agg(sum("n_docs")).collect()(0).getLong(0)
    info(f"dd9 clustered docs: uniform=$uniform skew=$skew")
    assert(skew <= 3 * math.max(4L, uniform),
      s"dd9 must stay flat under skew: uniform=$uniform skew=$skew")
  }
}
