package graft

/** Measurement fixture generator (judge verdict r8 "Next round" #6):
  * a REALISTIC-vocabulary documents table for profiling the dedup
  * family, staged under target/fixtures. The driver-generated
  * /root/testdata documents tables draw from a 31-token near-uniform
  * vocabulary — prefix filtering and LSH banding cannot prune on it
  * (every doc shares shingles with every other doc), so q136/q145-
  * style bench numbers measure the degenerate worst case, not the
  * operator. This fixture keeps the same shape (5,000 docs, ~54
  * tokens/doc) but draws tokens from a 10,000-type Zipf(s=1.07)
  * vocabulary — the distribution real text has (PERF_NOTES R8/R9) —
  * and plants a 5% near-duplicate rate (a copy of an earlier doc with
  * ~5% of tokens resampled) so dedup queries have true positives to
  * find. Deterministic: all randomness is seeded by doc id.
  *
  * Usage: sbt "runMain graft.ZipfFixture [outDir] [nDocs]"
  * (default target/fixtures/zipf, 5000 docs — pass 50000 for the
  * realistic-vocabulary DECADE fixture: unlike Sf1Fixture's documents,
  * content stays distinct, so near-dup cost scales with banded
  * candidates, not with a planted d² duplication term — PERF_NOTES
  * R10.9). The non-document tables are
  * symlinked from /root/testdata/sf0.1 so any query runs unchanged
  * with SPARK_GRAFT_SF_DIR=<outDir>. Manifest fixtures are NOT
  * touched — oracle hashes depend on them; this exists only so
  * PERF_NOTES can report the dedup family's non-degenerate cost.
  */
object ZipfFixture {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "target/fixtures/zipf"
    val nDocs = if (args.length > 1) args(1).toInt else 5000
    val vocabSize = 10000
    val zipfS = 1.07
    val avgLen = 54
    // pseudo-word vocabulary: rank-indexed syllable concatenations
    val syl = Array("ba", "de", "ki", "lo", "mu", "na", "po", "ra",
      "su", "ti", "ve", "zo", "ch", "fa", "gu", "he")
    def word(rank: Int): String = {
      var r = rank; val sb = new StringBuilder
      do { sb.append(syl(r % syl.length)); r /= syl.length } while (r > 0)
      sb.result()
    }
    // Zipf CDF over ranks 1..V
    val w = Array.tabulate(vocabSize)(i => 1.0 / math.pow(i + 1, zipfS))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    def draw(u: Double): Int = {
      val t = u * total
      var lo = 0; var hi = vocabSize - 1
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (cdf(mid) < t) lo = mid + 1 else hi = mid
      }
      lo
    }
    val texts = new Array[String](nDocs)
    val langs = Array("en", "de", "fr", "es")
    val rows = (0 until nDocs).map { i =>
      val rnd = new scala.util.Random(0x9e3779b9L * (i + 1))
      val text =
        if (i >= 100 && i % 20 == 19) {
          // near-duplicate: copy an earlier doc, resample ~5% of tokens
          val base = texts(rnd.nextInt(i)).split(" ")
          base.map(t => if (rnd.nextDouble() < 0.05)
            word(draw(rnd.nextDouble())) else t).mkString(" ")
        } else {
          val len = math.max(8, (avgLen + rnd.nextGaussian() * 20).toInt)
          Seq.fill(len)(word(draw(rnd.nextDouble()))).mkString(" ")
        }
      texts(i) = text
      (i.toLong, text, langs(i % langs.length), s"src${i % 8}",
        text.length.toLong)
    }
    val spark = GraftSession.create(cpus = 8)
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val outPath = Paths.get(out)
    graft.ops.Staging.deleteRecursively(outPath)
    Files.createDirectories(outPath)
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(4).write.mode("overwrite")
      .parquet(s"$out/documents.parquet")
    // everything else rides along from sf0.1 (symlinks, zero copies)
    val src = Paths.get("/root/testdata/sf0.1")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "embeddings").foreach { t =>
      Files.createSymbolicLink(outPath.resolve(s"$t.parquet"),
        src.resolve(s"$t.parquet"))
    }
    println(s"[zipf-fixture] wrote $nDocs docs, vocab $vocabSize, to $out")
    spark.stop()
  }
}
