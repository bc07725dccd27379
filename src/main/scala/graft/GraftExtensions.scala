package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions exposing the engine's native expressions to SQL users
  * and adding the engine's optimizer rule. Every engine session loads them
  * ([[Sessions.Pinned]] sets `spark.sql.extensions=graft.GraftExtensions`),
  * so `hash60(col)`, `dot_product(a, b)`, `word_shingles(text, n)`,
  * `token_fingerprint(text)` and the rest are available in Spark SQL. The
  * DataFrame-API operators do not require this — they build the expressions
  * directly (graft.ops.Hashing / Num / Text).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functionEntries.foreach(ext.injectFunction)
    // Optimizer rewrites (see graft.plans.GraftRewriteRule):
    // size(regexp_extract_all(x, lit, 0)) — and therefore Spark's
    // RuntimeReplaceable regexp_count — becomes the allocation-free native
    // RegexpMatchCount, and the word count size(split(x, '\s+', -1)) becomes
    // the regex-free native WhitespaceRunCount.
    ext.injectOptimizerRule(_ => graft.plans.GraftRewriteRule)
  }
}

object GraftExtensions {

  private def entry(name: String, clazz: Class[_])(
      builder: Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(clazz.getName, name), builder)

  /** All injected functions. */
  val functionEntries: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    graft.plans.Hash60.registryEntry,
    graft.plans.NfcNormalize.registryEntry,
    entry("dot_product", classOf[graft.plans.DotProduct]) { ch =>
      require(ch.size == 2, "dot_product takes exactly two arguments")
      graft.plans.DotProduct(ch(0), ch(1))
    },
    entry("word_shingles", classOf[graft.plans.WordShingles]) { ch =>
      require(ch.size == 2, "word_shingles takes (text, n)")
      val n = ch(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"word_shingles n must be an integer literal, got $other")
      }
      graft.plans.WordShingles(ch(0), n)
    },
    entry("token_fingerprint", classOf[graft.plans.TokenFingerprint]) { ch =>
      require(ch.size == 1, "token_fingerprint takes exactly one argument")
      graft.plans.TokenFingerprint(ch.head)
    },
    entry("simhash60", classOf[graft.plans.SimHash60]) { ch =>
      require(ch.size == 1, "simhash60 takes exactly one argument")
      graft.plans.SimHash60(ch.head)
    },
    entry("dhash60", classOf[graft.plans.DHash60]) { ch =>
      require(ch.size == 1, "dhash60 takes exactly one (hex string) argument")
      graft.plans.DHash60(ch.head)
    },
    entry("theta_sketch", classOf[graft.plans.ThetaSketchAgg]) { ch =>
      require(ch.size == 2, "theta_sketch takes (col, lgK)")
      val lgK = ch(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"theta_sketch lgK must be an integer literal, got $other")
      }
      graft.plans.ThetaSketchAgg(ch(0), lgK)
    },
    entry("theta_estimate", classOf[graft.plans.ThetaEstimate]) { ch =>
      require(ch.size == 1, "theta_estimate takes exactly one argument")
      graft.plans.ThetaEstimate(ch.head)
    },
    entry("theta_intersect_estimate", classOf[graft.plans.ThetaIntersectEstimate]) { ch =>
      require(ch.size == 2, "theta_intersect_estimate takes two sketch arguments")
      graft.plans.ThetaIntersectEstimate(ch(0), ch(1))
    },
    // registered as theta_merge, NOT theta_union: Spark 4.1 ships a builtin
    // scalar theta_union(sketch, sketch[, lgK]) — injecting our aggregate
    // under that name would silently shadow the builtin with an
    // incompatible signature for every SQL user of the extensions session
    // (caught by the round-14 parity test; ThetaSketchSpec also pins that
    // the builtin theta_union_agg/theta_sketch_estimate interoperate with
    // graft-stored sketch bytes).
    entry("theta_merge", classOf[graft.plans.ThetaUnionAgg]) { ch =>
      require(ch.size == 2, "theta_merge takes (sketch_col, lgK)")
      val lgK = ch(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"theta_merge lgK must be an integer literal, got $other")
      }
      graft.plans.ThetaUnionAgg(ch(0), lgK)
    },
    entry("theta_anotb_estimate", classOf[graft.plans.ThetaAnotBEstimate]) { ch =>
      require(ch.size == 2, "theta_anotb_estimate takes two sketch arguments")
      graft.plans.ThetaAnotBEstimate(ch(0), ch(1))
    },
    entry("regexp_match_count", classOf[graft.plans.RegexpMatchCount]) { ch =>
      require(ch.size == 2, "regexp_match_count takes (text, pattern)")
      val p = ch(1) match {
        case Literal(v: UTF8String, StringType) => v.toString
        case other => throw new IllegalArgumentException(
          s"regexp_match_count pattern must be a string literal, got $other")
      }
      graft.plans.RegexpMatchCount(ch(0), p)
    },
    entry("l2sq", classOf[graft.plans.L2Sq]) { ch =>
      require(ch.size == 2, "l2sq takes exactly two array arguments")
      graft.plans.L2Sq(ch(0), ch(1))
    },
    entry("jaro_winkler", classOf[graft.plans.JaroWinklerSimilarity]) { ch =>
      require(ch.size == 2, "jaro_winkler takes exactly two string arguments")
      graft.plans.JaroWinklerSimilarity(ch(0), ch(1))
    },
    entry("freq_items_sketch", classOf[graft.plans.FreqItemsSketch]) { ch =>
      require(ch.size == 2, "freq_items_sketch takes (col, capacity)")
      val cap = ch(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"freq_items_sketch capacity must be an integer literal, got $other")
      }
      // bare AggregateFunction: the analyzer wraps it in an AggregateExpression
      graft.plans.FreqItemsSketch(ch(0), cap)
    },
    entry("count_min_sketch60", classOf[graft.plans.CountMinSketch]) { ch =>
      require(ch.size == 3, "count_min_sketch60 takes (col, depth, width)")
      val Seq(d, w) = ch.drop(1).map {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"count_min_sketch60 depth/width must be integer literals, got $other")
      }
      graft.plans.CountMinSketch(ch(0), d, w)
    },
    entry("kll_sketch", classOf[graft.plans.KllDoublesAgg]) { ch =>
      require(ch.size == 2, "kll_sketch takes (col, k)")
      val k = ch(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"kll_sketch k must be an integer literal, got $other")
      }
      // bare AggregateFunction: the analyzer wraps it in an AggregateExpression.
      // Cast mirrors the DataFrame API (QuantileIndex.kllSketch casts to
      // double), so `kll_sketch(int_col, 256)` works in SQL too.
      graft.plans.KllDoublesAgg(Cast(ch(0), DoubleType), k)
    },
    entry("kll_union", classOf[graft.plans.KllUnionAgg]) { ch =>
      require(ch.size == 2, "kll_union takes (sketch_col, k)")
      val k = ch(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"kll_union k must be an integer literal, got $other")
      }
      graft.plans.KllUnionAgg(ch(0), k)
    },
    entry("kll_quantile", classOf[graft.plans.KllQuantile]) { ch =>
      require(ch.size == 2, "kll_quantile takes (sketch, q)")
      // SQL numeric literals parse as decimals — cast to the DOUBLE rank
      // the expression requires, mirroring QuantileIndex.kllQuantile.
      graft.plans.KllQuantile(ch(0), Cast(ch(1), DoubleType))
    },
    entry("kll_n", classOf[graft.plans.KllN]) { ch =>
      require(ch.size == 1, "kll_n takes exactly one sketch argument")
      graft.plans.KllN(ch.head)
    },
    entry("hilbert_code", classOf[graft.plans.HilbertCode]) { ch =>
      require(ch.size == 3, "hilbert_code takes (x, y, bits)")
      val bits = ch(2) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"hilbert_code bits must be an integer literal, got $other")
      }
      graft.plans.HilbertCode(ch(0), ch(1), bits)
    },
    entry("bloom_filter60", classOf[graft.plans.BloomFilter60]) { ch =>
      require(ch.size == 3, "bloom_filter60 takes (col, numBits, numHashes)")
      val Seq(m, k) = ch.drop(1).map {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"bloom_filter60 numBits/numHashes must be integer literals, got $other")
      }
      graft.plans.BloomFilter60(ch(0), m, k)
    })
}
