package graft

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

import graft.functions._

/** SQL surface of the engine's Catalyst kernels, installed the standard
  * Spark way: `spark.sql.extensions=graft.GraftExtensions` (set by
  * [[GraftSession.builder]], or by `--conf` on a real cluster — no code
  * change needed to use `graft_*` functions from pure SQL, a thrift
  * server, or a notebook).
  *
  * Every function here resolves to the SAME expression tree the Scala
  * Column API builds, so plans, codegen spans, and oracle parity are
  * identical whichever surface a query uses ([[queries.DedupQueries]]'s
  * `dedup_minhash_sql` row proves it end-to-end: the pure-SQL minhash
  * pipeline shares `dedup_minhash_lsh`'s DuckDB oracle hash-for-hash).
  *
  * Model-parameterized kernels (BPE merge tables, trained hyperplanes/
  * codebooks, LM cost maps) are deliberately NOT exposed: their parameters
  * are driver-trained plan literals, not something a SQL author can type.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.install(ext)
}

object GraftExtensions {

  def install(ext: SparkSessionExtensions): Unit = {

    // SQL STATEMENT surface (OPTIMIZE / VACUUM / DESCRIBE DETAIL /
    // DESCRIBE HISTORY / RESTORE / ALTER TABLE ... TBLPROPERTIES on path
    // tables): unmatched text delegates verbatim — can only ADD statements
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))

    // delta.`<path>` relation resolution: SELECT (incl. VERSION/TIMESTAMP
    // AS OF time travel), DELETE/UPDATE/MERGE INTO/INSERT resolve to the
    // same Scala APIs; non-path identifiers fall through untouched
    ext.injectResolutionRule(session => graft.sql.GraftPathRules(session))

    // a filter on a Delta table's partition columns narrows its log-backed
    // file index, so plan statistics and inputFiles count only those files
    ext.injectOptimizerRule(_ => graft.delta.PruneLogFileIndex)

    // table_changes('<path>', from[, to]) — the CDF as a TABLE FUNCTION
    // (delta-spark's SQL surface for the change feed): versions as
    // integers, timestamps as strings; `to` omitted = latest. Resolves
    // through the same changes() engine as the Scala API and the CDF
    // stream, so the three surfaces cannot drift.
    ext.injectTableFunction((FunctionIdentifier("table_changes"),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, "table_changes",
        "table_changes(path, fromVersionOrTs[, toVersionOrTs]) - change-data-feed rows of a Delta path table", ""),
      (args: Seq[Expression]) => {
        require(args.size == 2 || args.size == 3,
          "table_changes(path, fromVersionOrTimestamp[, toVersionOrTimestamp])")
        val spark = org.apache.spark.sql.SparkSession.active
        val path = args.head match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v,
            org.apache.spark.sql.types.StringType) => v.toString
          case other => throw new IllegalArgumentException(
            s"table_changes: path must be a string literal, got ${other.sql}")
        }
        val t = graft.delta.DeltaTable.forPath(spark, path)
        def tsMs(s: String): Long =
          java.time.Instant.parse(s.replace(" ", "T") +
            (if (s.contains("Z") || s.contains("+")) "" else "Z")).toEpochMilli
        // from-timestamp: first commit AT or after the cut (delta's
        // inclusive contract); to-timestamp: last commit at or before it
        def bound(e: Expression, isFrom: Boolean): Long = e match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v,
            org.apache.spark.sql.types.StringType) =>
            val ms = tsMs(v.toString)
            if (isFrom)
              try t.log.versionAt(ms - 1) + 1
              catch { case _: IllegalArgumentException => 0L }
            else t.log.versionAt(ms)
          case org.apache.spark.sql.catalyst.expressions.Literal(v, dt)
            if Seq(org.apache.spark.sql.types.IntegerType,
              org.apache.spark.sql.types.LongType,
              org.apache.spark.sql.types.ShortType,
              org.apache.spark.sql.types.ByteType).contains(dt) =>
            v.toString.toLong
          case other => throw new IllegalArgumentException(
            s"table_changes: version bound must be an integer or timestamp-string literal, got ${other.sql}")
        }
        val from = bound(args(1), isFrom = true)
        val to = if (args.size == 3) bound(args(2), isFrom = false)
        else t.log.latestVersion()
        t.changes(from, to).queryExecution.analyzed
      }))

    // -- scalar kernels over arrays/longs (direct expression constructors)

    register(ext, "graft_shingle_hashes",
      "graft_shingle_hashes(tokens, n, seed) - distinct 60-bit md5 hashes of word n-grams of a token array") { args =>
      checkArity("graft_shingle_hashes", args, 3)
      ShingleHashes(args(0), intLit("graft_shingle_hashes", args, 1),
        stringLit("graft_shingle_hashes", args, 2))
    }

    register(ext, "graft_minhash_sig",
      "graft_minhash_sig(hashes, k) - k-element MinHash signature (affine minima) of a hash array") { args =>
      checkArity("graft_minhash_sig", args, 2)
      MinHashSig(args(0), intLit("graft_minhash_sig", args, 1))
    }

    register(ext, "graft_band_buckets",
      "graft_band_buckets(sig, bands) - per-band LSH bucket hashes of a MinHash signature") { args =>
      checkArity("graft_band_buckets", args, 2)
      BandBuckets(args(0), intLit("graft_band_buckets", args, 1))
    }

    register(ext, "graft_simhash",
      "graft_simhash(hashes[, bits]) - per-bit-majority SimHash of a token-hash array (default 60 bits)") { args =>
      if (args.size != 1 && args.size != 2)
        throw new IllegalArgumentException(
          s"graft_simhash expects 1 or 2 arguments, got ${args.size}")
      val bits = if (args.size == 2) intLit("graft_simhash", args, 1) else 60
      SimHashSig(args(0), bits)
    }

    register(ext, "graft_zvalue",
      "graft_zvalue(a, b) - Morton z-order interleave of two non-negative 32-bit-range longs") { args =>
      checkArity("graft_zvalue", args, 2)
      ZValue(args(0), args(1))
    }

    register(ext, "graft_hilbert",
      "graft_hilbert(a, b) - order-16 Hilbert-curve index of two non-negative 16-bit-range longs") { args =>
      checkArity("graft_hilbert", args, 2)
      HilbertValue(args(0), args(1))
    }

    register(ext, "graft_qbucket",
      "graft_qbucket(q) - order-preserving log-histogram bucket of a quantized long") { args =>
      checkArity("graft_qbucket", args, 1)
      QBucket(args(0))
    }

    register(ext, "graft_double_order_bits",
      "graft_double_order_bits(x) - order-preserving long image of a double") { args =>
      checkArity("graft_double_order_bits", args, 1)
      DoubleOrderBits(args(0))
    }

    register(ext, "graft_cosine",
      "graft_cosine(a, b) - cosine similarity of two float vectors") { args =>
      checkArity("graft_cosine", args, 2)
      CosineSimilarity(args(0), args(1))
    }

    // -- composed Column builders (same trees the Scala API emits)

    registerCols(ext, "graft_tokens",
      "graft_tokens(text) - lowercased whitespace tokens, empties dropped") { cols =>
      checkArity("graft_tokens", cols, 1)
      ops.TextAnalysis.tokens(cols(0)._1)
    }

    registerCols(ext, "graft_url_normalize",
      "graft_url_normalize(url) - canonical URL: lowercase scheme/host, www/userinfo/" +
        "default ports/fragments/trailing slashes stripped, tracking params dropped, " +
        "params sorted") { cols =>
      checkArity("graft_url_normalize", cols, 1)
      ops.UrlOps.normalizeUrl(cols(0)._1)
    }

    registerCols(ext, "graft_nfc",
      "graft_nfc(text) - Unicode NFC canonical composition (the " +
        "normalize-before-hash dedup step); ASCII passes through untouched") { cols =>
      checkArity("graft_nfc", cols, 1)
      functions.NfcNormalize.of(cols(0)._1)
    }

    registerCols(ext, "graft_url_host",
      "graft_url_host(url) - the canonical host (lowercased, www/userinfo/port stripped)") { cols =>
      checkArity("graft_url_host", cols, 1)
      ops.UrlOps.urlHost(cols(0)._1)
    }

    registerCols(ext, "graft_script_count",
      "graft_script_count(text, script) - chars of a unicode script (latin/han/cyrillic/" +
        "arabic/devanagari/hangul/kana/greek) by explicit codepoint range") { cols =>
      checkArity("graft_script_count", cols, 2)
      ops.TextAnalysis.scriptCount(cols(0)._1,
        stringLitCol("graft_script_count", cols, 1))
    }

    registerCols(ext, "graft_dominant_script",
      "graft_dominant_script(text) - argmax unicode script, alphabetical ties, 'und' on none") { cols =>
      checkArity("graft_dominant_script", cols, 1)
      ops.TextAnalysis.dominantScript(cols(0)._1)
    }

    registerCols(ext, "graft_url_domain",
      "graft_url_domain(host) - registered-domain heuristic of a host (public-suffix-lite)") { cols =>
      checkArity("graft_url_domain", cols, 1)
      ops.UrlOps.registeredDomain(cols(0)._1)
    }

    registerCols(ext, "graft_ln_wide",
      "graft_ln_wide(x) - engine-portable ln(x) - 32*ln2 for x in [1, 2^62]: " +
        "correctly-rounded-ops-only series, bit-identical to PortableMath.lnWide " +
        "and to the oracle CTE chain (offsets cancel in log ratios)") { cols =>
      checkArity("graft_ln_wide", cols, 1)
      functions.PortableMath.lnWideCol(cols(0)._1)
    }

    registerCols(ext, "graft_shingles",
      "graft_shingles(text, n) - distinct word n-gram shingle strings") { cols =>
      checkArityCols("graft_shingles", cols, 2)
      ops.Dedup.shingles(cols(0)._1, intLitCol("graft_shingles", cols, 1))
    }

    registerCols(ext, "graft_h64",
      "graft_h64(v, seed) - 60-bit md5 hash, the engine's portable hash primitive") { cols =>
      checkArityCols("graft_h64", cols, 2)
      Hashing.h64(cols(0)._1, stringLitCol("graft_h64", cols, 1))
    }

    registerCols(ext, "graft_jaccard",
      "graft_jaccard(a, b) - exact Jaccard similarity of two token-set arrays") { cols =>
      checkArity("graft_jaccard", cols, 2)
      ops.Dedup.jaccard(cols(0)._1, cols(1)._1)
    }

    registerCols(ext, "graft_quality",
      "graft_quality(text) - length/stopword/punctuation quality score in [0, 1]") { cols =>
      checkArity("graft_quality", cols, 1)
      ops.TextAnalysis.qualityScore(cols(0)._1)
    }

    registerCols(ext, "graft_langid",
      "graft_langid(text) - stopword-hit language id") { cols =>
      checkArity("graft_langid", cols, 1)
      ops.TextAnalysis.langId(cols(0)._1)
    }

    registerCols(ext, "graft_fingerprint",
      "graft_fingerprint(text) - md5 of the sorted distinct token set") { cols =>
      checkArity("graft_fingerprint", cols, 1)
      ops.TextAnalysis.fingerprint(cols(0)._1)
    }
  }

  /** Register a builder over raw expressions. */
  private def register(ext: SparkSessionExtensions, name: String, usage: String)(
      builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((FunctionIdentifier(name),
      new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, ""),
      builder))

  /** Register a builder written against the Column API: arguments arrive as
    * (wrapped Column, underlying Expression) so literal params can still be
    * inspected. The built Column unwraps back to one expression tree. */
  private def registerCols(ext: SparkSessionExtensions, name: String, usage: String)(
      builder: Seq[(Column, Expression)] => Column): Unit =
    register(ext, name, usage) { args =>
      // eager node→Catalyst conversion: a deferred wrapper would stay
      // Unevaluable when returned from an analyzer-time builder
      ColumnBridge.toCatalystExpr(builder(args.map(e => (ColumnBridge.wrap(e), e))))
    }

  private def checkArity(fn: String, args: Seq[_], n: Int): Unit =
    if (args.size != n)
      throw new IllegalArgumentException(s"$fn expects $n arguments, got ${args.size}")

  private def checkArityCols(fn: String, args: Seq[_], n: Int): Unit =
    checkArity(fn, args, n)

  /** Plan-time Int parameter: must be an integer LITERAL (the kernels bake
    * it into codegen), not a column reference. */
  private def intLit(fn: String, args: Seq[Expression], pos: Int): Int =
    args(pos) match {
      case Literal(v: Int, IntegerType) => v
      case Literal(v: Long, LongType) if v.isValidInt => v.toInt
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }

  private def stringLit(fn: String, args: Seq[Expression], pos: Int): String =
    args(pos) match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a string literal, got $other")
    }

  private def intLitCol(fn: String, cols: Seq[(Column, Expression)], pos: Int): Int =
    intLit(fn, cols.map(_._2), pos)

  private def stringLitCol(fn: String, cols: Seq[(Column, Expression)], pos: Int): String =
    stringLit(fn, cols.map(_._2), pos)
}
