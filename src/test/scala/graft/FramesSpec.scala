package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** [[Frames]]: every Dataset cache has one owner, and a scope ends with
  * what it cached. Suites share one session, so each test starts from an
  * empty cache. */
class FramesSpec extends SparkTestBase {
  import spark.implicits._

  // the sf0.001 fixture (TESTDATA.md)
  private val dir = s"${sys.props("user.home")}/testdata/sf0.001"

  private def cacheEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager.isEmpty

  private def cached(df: DataFrame): Boolean = df.storageLevel != StorageLevel.NONE

  /** A frame whose plan no other test shares. */
  private def frame(tag: Int): DataFrame = spark.range(100).toDF("x").filter(col("x") > tag)

  test("a scope releases its frames when the body returns and when it throws") {
    spark.catalog.clearCache()
    val a = frame(1)
    val out = Frames.scope {
      Frames.shared(a)
      assert(cached(a))
      a.count()
    }
    assert(out === 98L)
    assert(!cached(a), "the scope returned with its frame still cached")

    val b = frame(2)
    intercept[IllegalStateException] {
      Frames.scope {
        Frames.shared(b).count()
        assert(cached(b))
        throw new IllegalStateException("body failed")
      }
    }
    assert(!cached(b), "the scope threw with its frame still cached")
    assert(cacheEmpty)
  }

  test("an inner scope does not drop a plan an outer scope cached first") {
    spark.catalog.clearCache()
    val outer = frame(3)
    val inner = frame(4)
    Frames.scope {
      Frames.shared(outer)
      Frames.scope {
        // same plan as the outer frame: the entry is not this scope's
        Frames.shared(frame(3))
        Frames.shared(inner)
      }
      assert(cached(outer), "the inner scope dropped the outer scope's plan")
      assert(!cached(inner), "the inner scope kept its own frame")
    }
    assert(!cached(outer))
    assert(cacheEmpty)
  }

  test("a frame shared outside any scope stays cached: the caller owns it") {
    spark.catalog.clearCache()
    val a = Frames.shared(frame(5))
    a.count()
    Frames.scope(Frames.shared(frame(5)).count())
    assert(cached(a), "a scope released a frame it did not create")
    a.unpersist()
    assert(cacheEmpty)
  }

  test("every query that reaches a shared frame ends with an empty cache") {
    spark.catalog.clearCache()
    val leaks = FramesSpec.SharedSiteQueries.filter { name =>
      Frames.scope(SparkEntry.queries(name)(spark, dir).write.format("noop")
        .mode("overwrite").save())
      val leaked = !cacheEmpty
      if (leaked) spark.catalog.clearCache()
      leaked
    }
    assert(leaks.isEmpty, s"queries that left a cached plan after their scope: $leaks")
  }

  test("distributed BPE training leaves no cached plan, checkpoint rounds included") {
    spark.catalog.clearCache()
    // one 16-letter word three times: every adjacent pair counts 3, so
    // all 12 rounds merge, and round 8 checkpoints the vocab
    val df = Seq.fill(3)("abcdefghijklmnop").toDF("body")
    val merges = ops.Bpe.train(df, "body", 12, maxLocalVocab = 0)
    assert(merges.size === 12)
    assert(cacheEmpty, "distributed BPE training left a cached plan")
  }
}

object FramesSpec {

  /** The SparkEntry queries that reach a [[Frames.shared]] site: the
    * leader's gate pass (store admissions on stream threads, PSI's
    * reference), the training loops that end with their own scope, and
    * the queries whose returned plan reads a shared frame. */
  val SharedSiteQueries: Seq[String] = Seq(
    "q_ann_recall", "q_bpe_bytes", "q_bpe_encode", "q_bt_strength", "q_ccnet_bucket",
    "q_heavy_hitters", "q_interleave", "q_late_data", "q_lm_bits", "q_lr_classify",
    "q_lr_classify_fixed", "q_mix_weights", "q_ntile", "q_pack_sequences", "q_pagerank",
    "q_pmi", "q_pref_pairs", "q_pref_pairs_quality", "q_rank_funcs", "q_sft_pack",
    "q_sft_pack_tokens", "q_streaming_best_of_n", "q_token_budget_sample",
    "q_unigram_encode")
}
