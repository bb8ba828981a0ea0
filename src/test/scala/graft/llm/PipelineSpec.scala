package graft.llm

import graft.SparkTestBase
import org.apache.spark.sql.{functions => F}

/**
 * The public composed pipeline (Pipeline.scala): stage semantics on a
 * corpus where every stage does real work, and cache hygiene. The
 * end-to-end numeric pinning is the `pipeline_e2e` registry row's DuckDB
 * oracle; this spec pins the API surface.
 */
class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  // docs 1/2: near-dup pair (one-token edit at >50 words); doc 3 shares a
  // 4-gram span with doc 1; doc 4 fails the hard filter
  private lazy val corpus = {
    val stopRun = "the of and to in that it was he for " * 5
    val base = stopRun + (1 to 20).map(i => s"word$i").mkString(" ")
    val nearDup = base.replace("word7", "wordX")
    // doc 3's unique tail: long-enough tokens to keep the mean-token-
    // length filter rule happy, with stopwords interleaved so the
    // POST-STRIP quality score stays > 0 (the shared stopRun and the
    // word1..4 span both strip; an all-junk remainder would have quality
    // exactly 0 and be dropped by PPS at ANY rate)
    val other = stopRun +
      (1 to 20).map(i => s"zzzz$i the").mkString(" ") +
      " word1 word2 word3 word4"
    Seq((1L, base), (2L, nearDup), (3L, other), (4L, "too short"))
      .toDF("doc_id", "text")
  }

  // sampleRate high enough that the PPS stage keeps every survivor —
  // stage attrition is pinned separately from sampling
  private val keepAll = Pipeline.Config(sampleRate = 100.0)

  behavior of "Pipeline.run"

  it should "run every stage: filter, dedup, span strip, scrub, pack, " +
    "shuffle" in {
    val out = Pipeline.run(corpus, keepAll).orderBy("doc_id").collect()
    out.map(_.getLong(0)).toSeq shouldBe Seq(1L, 3L) // 4 filtered, 2 deduped
    val cols = out.head.schema.fieldNames.toSet
    Set("doc_id", "text", "quality", "n_tokens", "pack_bucket", "pack_id",
      "pack_offset", "shuffle_pos").subsetOf(cols) shouldBe true
    // doc 3's duplicated 4-gram span (word1..word4, shared with doc 1)
    // is stripped from BOTH
    val texts = out.map(r => r.getLong(0) -> r.getString(1)).toMap
    texts(3L).split(" ") should not contain "word1"
    texts(1L).split(" ") should not contain "word1"
    // shuffle positions are a permutation of 0..n-1
    out.map(_.getAs[Long]("shuffle_pos")).sorted.toSeq shouldBe Seq(0L, 1L)
  }

  it should "leave no residual cache" in {
    // start from an empty cache manager so a stage frame left registered
    // there by this run (not only its RDD blocks) is seen
    spark.catalog.clearCache()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Pipeline.run(corpus, keepAll)
    out.count() should be >= 0L
    (spark.sparkContext.getPersistentRDDs.keySet -- before) shouldBe empty
    spark.sharedState.cacheManager.isEmpty shouldBe true
  }

  it should "apply a custom scrub stage (the synthetic-PII drill)" in {
    val out = Pipeline.run(corpus, keepAll,
        scrub = Some(Pipeline.syntheticPiiScrub("doc_id", "text")))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // the injected email/IP/phone must all be redacted, not present
    out(1L) should include("<EMAIL>")
    out(1L) should not include "@mail.example.com"
    out(1L) should include("<IP>")
    out(1L) should include("<PHONE>")
  }

  it should "honor the PPS sampling rate" in {
    // rate 0 keeps nothing (weight * 0 = 0 and hashUnit >= 0 excludes p=0)
    Pipeline.run(corpus, Pipeline.Config(sampleRate = 0.0)).count() shouldBe 0L
  }
}
