package graft.pipeline

import graft.util.PartitionPrefixScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting. Everything
  * is native Catalyst expressions (split / higher-order functions / regexp)
  * — no UDFs, so the whole surface stays inside whole-stage codegen and
  * scales as a pure map over the corpus: no shuffle, no driver data.
  */
object TextAnalysis {

  /** whitespace tokenization (trimmed, collapsed whitespace) */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Hand-rolled whitespace scan for the typed JVM hot paths — the same
    * nonempty-token stream as `trim.split("\\s+").filter(_.nonEmpty)`,
    * INCLUDING `String.trim`'s end behavior: trim strips every char
    * <= U+0020 from both ends (controls like U+0000-U+0008 and
    * U+000E-U+001F too, not just
    * Java `\s` = space + 0x09–0x0D), so the scan first clips the ends at
    * <= ' ' and then splits the interior on `\s` chars only — interior
    * control chars stay token chars, exactly as the regex form leaves
    * them. No regex engine: one char pass, no Pattern/Matcher allocation,
    * no transient split array. The regex split dominated the dedup-tier
    * shingling residual (NOTES round 6); every per-row tokenizer below
    * the Column layer (shingling, repetition signals, BPE apply) goes
    * through here. Whitespace-only input yields an EMPTY array (callers
    * that need the `split` artifact `[""]` don't exist below the Column
    * layer). */
  @inline private[graft] def isAsciiSpace(ch: Char): Boolean =
    ch == ' ' || (ch >= '\t' && ch <= '\r')

  private[graft] def fastTokens(text: String): Array[String] = {
    // String.trim parity: clip chars <= U+0020 (not just \s) at the ends
    var lo = 0
    var hi = text.length
    while (lo < hi && text.charAt(lo) <= ' ') lo += 1
    while (hi > lo && text.charAt(hi - 1) <= ' ') hi -= 1
    // pre-size from a quick space count estimate? a growable builder is
    // simpler and the copy cost is dwarfed by substring allocation
    val out = scala.collection.mutable.ArrayBuilder.make[String]
    var i = lo
    while (i < hi) {
      while (i < hi && isAsciiSpace(text.charAt(i))) i += 1
      if (i < hi) {
        val start = i
        while (i < hi && !isAsciiSpace(text.charAt(i))) i += 1
        out += text.substring(start, i)
      }
    }
    out.result()
  }

  def tokenCount(c: Column): Column = size(tokens(c))

  /** A BPE-ish subword count: word count + one extra per 4 chars of long
    * words — a deterministic proxy for tokenizer load estimation. */
  def subwordCount(c: Column): Column =
    aggregate(tokens(c), lit(0L),
      (acc, w) => acc + greatest(ceil(length(w) / 4.0).cast("long"), lit(1L)))

  // ---- quality scoring (length / punctuation / stopword ratios) ----------

  val EnStopwords: Seq[String] = Seq("the", "a", "an", "of", "to", "and",
    "in", "is", "it", "that", "for", "on", "with", "as", "at", "by")

  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[.,!?;:]", ""))) /
      greatest(length(c), lit(1)).cast("double")

  def stopwordRatio(c: Column, stopwords: Seq[String] = EnStopwords): Column = {
    val stopArr = array(stopwords.map(lit): _*)
    size(filter(tokens(c), t => array_contains(stopArr, t))) /
      greatest(size(tokens(c)), lit(1)).cast("double")
  }

  def meanWordLen(c: Column): Column =
    aggregate(tokens(c), lit(0L), (acc, w) => acc + length(w)) /
      greatest(size(tokens(c)), lit(1)).cast("double")

  /** Composite quality score in [0,1]: rewards mid-length docs with typical
    * word lengths and some (not too much) punctuation + stopword presence. */
  def qualityScore(c: Column): Column = {
    val lenScore = least(length(c) / lit(500.0), lit(1.0))
    val wordScore = lit(1.0) - least(abs(meanWordLen(c) - lit(5.0)) / lit(5.0), lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(c) * lit(10.0), lit(1.0))
    val stopScore = least(stopwordRatio(c) * lit(4.0), lit(1.0))
    (lenScore + wordScore + punctScore + stopScore) / lit(4.0)
  }

  // ---- language identification (stopword-hit heuristic) -------------------

  /** Per-language marker wordlists (tiny, high-frequency function words). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "with", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une", "des", "dans", "que", "pour"),
    "es" -> Seq("el", "los", "las", "es", "una", "del", "por", "con", "para", "como"),
    "zh" -> Seq("的", "是", "在", "了", "我", "有", "和", "不", "这", "中"))

  /** Hit count of language markers among the tokens (zh matched by
    * substring since Chinese text is unsegmented). */
  def langScore(c: Column, lang: String,
                markers: Seq[String]): Column =
    if (lang == "zh")
      markers.map(m => (length(c) - length(regexp_replace(c, m, ""))) / length(lit(m)))
        .reduce(_ + _)
    else {
      val arr = array(markers.map(lit): _*)
      size(filter(tokens(c), t => array_contains(arr, t)))
    }

  /** argmax language by marker hits; ties break by LangMarkers order. */
  def languageId(c: Column): Column = {
    val scores = LangMarkers.map { case (l, ms) => l -> langScore(c, l, ms) }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.reverse.foldLeft(lit("und")) { case (acc, (l, sc)) =>
      when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
    when(c.isNotNull, pred) // null text → null, not "und"
  }

  /** Language ID with the scores MATERIALIZED as columns first. The
    * Column-form above re-evaluates each interpreted filter/aggregate HOF
    * (and the tokenization inside it) once in the `greatest` and again per
    * `when` branch — ~3× redundant work. Three stacked projections (tokens →
    * scores → argmax) are kept apart by Catalyst's CollapseProject non-cheap
    * multi-reference rule, so each score evaluates exactly once. Semantics
    * identical to `languageId`. */
  def withLanguageId(df: DataFrame, textCol: String,
                     out: String = "lang_pred"): DataFrame = {
    val toksCol = "__li_toks"
    val scoreCol = LangMarkers.map { case (l, _) => l -> s"__li_$l" }.toMap
    val withToks = df.withColumn(toksCol, tokens(col(textCol)))
    val withScores = LangMarkers.foldLeft(withToks) { case (d, (l, ms)) =>
      val sc =
        if (l == "zh") langScore(col(textCol), l, ms)
        else {
          val arr = array(ms.map(lit): _*)
          size(filter(col(toksCol), t => array_contains(arr, t)))
        }
      d.withColumn(scoreCol(l), sc)
    }
    val scores = LangMarkers.map { case (l, _) =>
      l -> col(scoreCol(l)).cast("double")
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.reverse.foldLeft(lit("und")) { case (acc, (l, sc)) =>
      when(sc === best && best > 0, lit(l)).otherwise(acc)
    }
    withScores.withColumn(out, when(col(textCol).isNotNull, pred))
      .drop(toksCol +: LangMarkers.map { case (l, _) => scoreCol(l) }: _*)
  }

  // ---- fingerprinting ------------------------------------------------------

  /** 64-bit document fingerprint: rolling rotate-xor hash over token
    * xxhash64s — order-sensitive, whitespace-normalized (documents that
    * differ only in whitespace/trim share a fingerprint). Rotate-xor keeps
    * every step inside the long domain (no ANSI overflow, unlike a
    * polynomial acc*31+h fold). */
  def fingerprint(c: Column): Column =
    aggregate(transform(tokens(c), t => xxhash64(t)), lit(0L),
      (acc, h) => shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
        .bitwiseXOR(h))

  /** Corpus vocabulary: one explode + one grouped agg giving each token's
    * total occurrence count and document frequency (exact distinct — at
    * 100 TB swap `approx_count_distinct` in; token cardinality is
    * Zipf-bounded so the shuffle is small next to the corpus). The vocab
    * builder for tokenizer training / frequency-filtered feature sets. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
                 minCount: Long = 1L): DataFrame =
    // internal aliases carry the __graft prefix so an idCol literally
    // named "token" can't make the groupBy ambiguous
    df.na.drop(Seq(idCol, textCol))
      .select(col(idCol).as("__graft_id"),
        explode(tokens(col(textCol))).as("__graft_token"))
      .filter(col("__graft_token") =!= "")
      .groupBy("__graft_token")
      .agg(count(lit(1)).as("count"),
        countDistinct(col("__graft_id")).as("doc_freq"))
      .filter(col("count") >= minCount)
      .withColumnRenamed("__graft_token", "token")

  /** Exact heavy tokens WITHOUT a vocabulary-wide shuffle: every token
    * appearing in at least `support` fraction of the corpus token
    * stream, with exact counts — [[graft.agg.Frequency.heavyHitters]]
    * over the exploded token stream. Where [[vocabulary]] shuffles the
    * full Zipf tail to answer any frequency question, this pass keeps
    * O(slack/support) state per partition and recounts only the
    * candidates, so the stop-word / boilerplate-token report stays
    * cheap when the corpus (and its long vocabulary tail) is 100 TB.
    * Output: (token, cnt), cnt ≥ ⌈support · total-token-count⌉. */
  def heavyTokens(df: DataFrame, textCol: String, support: Double,
                  slack: Double = 2.0): DataFrame =
    graft.agg.Frequency.heavyHitters(
      df.na.drop(Seq(textCol))
        .select(explode(tokens(col(textCol))).as("__graft_token"))
        .filter(col("__graft_token") =!= ""),
      "__graft_token", support, slack)
      .withColumnRenamed("value", "token")

  /** Per-SOURCE heavy tokens: [[heavyTokens]] stratified by `groupCol` —
    * each source's boilerplate/stop-token report from one grouped
    * bounded-state sketch pass + an exact candidate recount
    * ([[graft.agg.Frequency.heavyHittersByGroup]]). Output:
    * (group, token, cnt), cnt ≥ ⌈support · group-token-count⌉. */
  def heavyTokensByGroup(df: DataFrame, groupCol: String, textCol: String,
                         support: Double, slack: Double = 2.0): DataFrame =
    graft.agg.Frequency.heavyHittersByGroup(
      df.na.drop(Seq(textCol))
        .select(col(groupCol),
          explode(tokens(col(textCol))).as("__graft_token"))
        .filter(col("__graft_token") =!= ""),
      groupCol, "__graft_token", support, slack)
      .withColumnRenamed("value", "token")

  /** Zipf-law diagnostic over the corpus vocabulary: least-squares fit of
    * ln(count) against ln(rank) (rank = count-descending position, ties
    * broken by token so the order is total and engine-independent).
    * Healthy natural-language corpora sit near slope −1; a much flatter
    * or steeper slope flags template/boilerplate or truncated corpora —
    * a one-row corpus health check for curation pipelines. Returns
    * (slope, intercept, r2, n_types).
    *
    * Scale shape: vocabulary aggregate (token-keyed, map-side combined),
    * then a [[PartitionPrefixScan]] assigns ranks WITHOUT a global
    * window, and each partition folds its regression co-moments locally
    * — #partitions small vectors reach the driver. */
  def zipfFit(df: DataFrame, idCol: String, textCol: String,
              minCount: Long = 1L): DataFrame = {
    val spark = df.sparkSession
    val vocab = vocabulary(df, idCol, textCol, minCount)
      .select(col("count").cast("long").as("c"), col("token"))
    val scan = PartitionPrefixScan.sorted(vocab, col("c").desc, col("token"))
    val counts = scan.summarize(_.size.toLong)
    val partials = scan.fold(counts.scanLeft(0L)(_ + _)) { (rk0, it) =>
      var rk = rk0
      var n = 0L; var sx = 0.0; var sy = 0.0
      var sxy = 0.0; var sxx = 0.0; var syy = 0.0
      it.foreach { r =>
        rk += 1
        val x = math.log(rk.toDouble)
        val y = math.log(r.getLong(0).toDouble)
        n += 1; sx += x; sy += y; sxy += x * y; sxx += x * x; syy += y * y
      }
      (n, sx, sy, sxy, sxx, syy)
    }
    var n = 0L; var sx = 0.0; var sy = 0.0
    var sxy = 0.0; var sxx = 0.0; var syy = 0.0
    partials.foreach { case (pn, px, py, pxy, pxx, pyy) =>
      n += pn; sx += px; sy += py; sxy += pxy; sxx += pxx; syy += pyy
    }
    val nd = n.toDouble
    val covN = nd * sxy - sx * sy
    val varXN = nd * sxx - sx * sx
    val varYN = nd * syy - sy * sy
    val slope = covN / varXN // NaN when n < 2 or all ranks equal
    val intercept = (sy - slope * sx) / nd
    val r2 = covN * covN / (varXN * varYN)
    import spark.implicits._
    Seq((slope, intercept, r2, n)).toDF("slope", "intercept", "r2", "n_types")
  }

  private val vocabGrowthSchema = StructType(
    Seq("doc_id", "doc_tokens", "cum_tokens", "new_types", "cum_types")
      .map(StructField(_, LongType, nullable = false)))

  /** Vocabulary growth curve: for each document (in `idCol` order) the
    * cumulative token count and cumulative distinct-type count after
    * ingesting that document — the empirical curve behind Heaps' law,
    * and the practical "is this crawl still contributing new vocabulary
    * or just repeating itself" signal for corpus curation. Output:
    * (doc_id, doc_tokens, cum_tokens, new_types, cum_types), one row per
    * document with ≥ 1 token.
    *
    * Scale shape: NO global window and NO per-token ordering — types are
    * attributed to their first document with a min(doc_id) aggregate
    * (token-keyed, map-side combined), collapsed to per-doc new-type
    * counts, and both running sums ride one [[PartitionPrefixScan]]
    * (two counters per partition). The sort is doc-cardinality, not token-cardinality. */
  def vocabGrowth(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.util.Errors.context("vocabGrowth", Seq(idCol, textCol)) {
    val tok = df.na.drop(Seq(idCol, textCol))
      .select(col(idCol).cast("long").as("__graft_id"),
        explode(tokens(col(textCol))).as("__graft_token"))
      .filter(col("__graft_token") =!= "")
    // two token-keyed aggregates share one exploded stream: cache would
    // buy nothing here (explode is cheap next to the shuffles), but the
    // aggregates themselves are both map-side combined
    val perDoc = tok.groupBy("__graft_id")
      .agg(count(lit(1)).as("doc_tokens"))
    val newTypes = tok.groupBy("__graft_token")
      .agg(min(col("__graft_id")).as("__graft_first"))
      .groupBy(col("__graft_first").as("__graft_id"))
      .agg(count(lit(1)).as("new_types"))
    val joined = perDoc.join(newTypes, Seq("__graft_id"), "left")
      .select(col("__graft_id"), col("doc_tokens"),
        coalesce(col("new_types"), lit(0L)).as("new_types"))
    val scan = PartitionPrefixScan.sorted(joined, col("__graft_id"))
    val partials = scan.summarize { it =>
      var t = 0L; var y = 0L
      it.foreach { r => t += r.getLong(1); y += r.getLong(2) }
      (t, y)
    }
    val tokOff = partials.map(_._1).scanLeft(0L)(_ + _)
    val typOff = partials.map(_._2).scanLeft(0L)(_ + _)
    scan.emit(tokOff.zip(typOff), vocabGrowthSchema) { case ((t0, y0), it) =>
      var ct = t0; var cy = y0
      it.map { r =>
        ct += r.getLong(1); cy += r.getLong(2)
        val o = new GenericInternalRow(5)
        o.update(0, r.getLong(0)); o.update(1, r.getLong(1)); o.update(2, ct)
        o.update(3, r.getLong(2)); o.update(4, cy)
        o: InternalRow
      }
    }
  } }

  /** Heaps'-law fit over the [[vocabGrowth]] curve: least squares of
    * ln(cum_types) against ln(cum_tokens) across documents, so
    * V(n) ≈ k·n^beta. Natural corpora sit at beta ≈ 0.4-0.6; beta
    * near 0 means the crawl stopped contributing vocabulary (template /
    * duplicated mass), beta near 1 means near-random token soup. One
    * aggregate over the growth frame (regr_* co-moments); returns
    * (beta, k, r2, n_docs). */
  def heapsFit(df: DataFrame, idCol: String, textCol: String): DataFrame =
    vocabGrowth(df, idCol, textCol)
      .select(log(col("cum_tokens").cast("double")).as("__x"),
        log(col("cum_types").cast("double")).as("__y"))
      .agg(expr("regr_slope(__y, __x)").as("beta"),
        exp(expr("regr_intercept(__y, __x)")).as("k"),
        expr("regr_r2(__y, __x)").as("r2"),
        count(lit(1)).as("n_docs"))

  /** Deterministic hashed-TF document embedding (the feature-hashing
    * trick, Weinberger et al. 2009): token t adds sign(t) ∈ {+1,−1} at
    * index(t) = first 15 md5 hex chars mod `dim`, sign from the 16th hex
    * char's parity; the document vector is L2-normalized. A MODEL-FREE
    * text→vector bridge: it lets the whole embedding tier (IVF/PQ,
    * SemDeDup, cosine screens, kNN graphs) run on corpora that carry no
    * embedding column — bag-of-words cosine in disguise, cheap and
    * reproducible anywhere (only built-in hash/string functions, no UDF,
    * fully codegen'd; the q_hash_embed oracle replays it bit-for-bit).
    *
    * Scale shape: explode → two integer-keyed hash aggregates
    * ((doc, idx) sums, then per-doc assembly) — the same shuffle shape
    * as tf-idf. Output: (idCol, vec array<double>), unit-norm; documents
    * with no non-empty tokens are DROPPED (a zero vector has no cosine —
    * same convention as the vocabulary/relevance tier). */
  def hashEmbed(df: DataFrame, idCol: String, textCol: String,
                dim: Int = 64): DataFrame = {
    require(dim >= 2 && dim <= 4096, s"hashEmbed dim out of range: $dim")
    graft.util.Errors.context("hashEmbed", Seq(idCol, textCol)) {
    val clean = df.na.drop(Seq(idCol, textCol))
    // the per-token digest inherits the SCAN's parallelism — a corpus in
    // one parquet split would hash on one core. Spread doc rows first
    // when the input is under-partitioned (cheap: doc-count rows move
    // once); a no-op at scale, where the scan already has >=
    // shuffle-partition splits. (Stage costs at sf0.1: NOTES.md,
    // "q_hash_embed cost anatomy".)
    val np = df.sparkSession.sessionState.conf.numShufflePartitions
    val spread = if (clean.rdd.getNumPartitions < math.max(2, np / 2))
      clean.repartition(np) else clean
    // md5 materialized in its own projection: idx and sign both read it,
    // and an inlined tree would run the digest twice per token
    val tok = spread
      .select(col(idCol).as("__graft_id"),
        explode(tokens(col(textCol))).as("__graft_token"))
      .filter(col("__graft_token") =!= "")
      .select(col("__graft_id"), md5(col("__graft_token")).as("__graft_md5"))
    val md5c = col("__graft_md5")
    // 15 hex chars = 60 bits — fits a signed long, and DuckDB's
    // ('0x' || ...)::UBIGINT reads the same value
    val idx = pmod(conv(substring(md5c, 1, 15), 16, 10).cast("long"),
      lit(dim.toLong)).cast("int")
    val sgn = when(
      conv(substring(md5c, 16, 1), 16, 10).cast("long") % 2 === 0,
      lit(1.0)).otherwise(lit(-1.0))
    val cells = tok.select(col("__graft_id"), idx.as("__graft_idx"),
      sgn.as("__graft_sgn"))
    // cell sums -> per-doc array. Two shapes, same values:
    //  - narrow dims (every benched caller: 64/256): ONE hash aggregate
    //    keyed on the doc id with `dim` pivoted sum(when(idx=i, sgn))
    //    columns — fully codegen, one exchange, no per-group object
    //    state (r14: replaces a (id, idx) HashAggregate + a collect_list
    //    ObjectHashAggregate, i.e. two exchanges and an interpreted
    //    map_from_entries/element_at walk; measured 1.24 -> 0.9 s at
    //    sf0.1 for the 64-dim bench row with the assembly tail flat);
    //  - wide dims: the pivot's agg-buffer row (dim doubles per group)
    //    and generated code stop paying off, so keep the two-stage
    //    (id, idx) aggregate. Values are identical either way: sums of
    //    ±1.0 are integer-valued doubles (order-independent), and the
    //    norm/divide tail below is shared verbatim. hashEmbedCol parity
    //    is spec-pinned (CurationSpec).
    val raw =
      if (dim <= 512) {
        val aggs = (0 until dim).map(i =>
          sum(when(col("__graft_idx") === i, col("__graft_sgn")))
            .as(s"__graft_c$i"))
        cells.groupBy("__graft_id")
          .agg(aggs.head, aggs.tail: _*)
          .select(col("__graft_id").as(idCol),
            array((0 until dim).map(i =>
              coalesce(col(s"__graft_c$i"), lit(0.0))): _*)
              .as("__graft_raw"))
      } else {
        cells.groupBy("__graft_id", "__graft_idx")
          .agg(sum("__graft_sgn").as("__graft_v"))
          .groupBy("__graft_id")
          .agg(map_from_entries(collect_list(
            struct(col("__graft_idx"), col("__graft_v")))).as("__graft_m"))
          .select(col("__graft_id").as(idCol),
            transform(sequence(lit(0), lit(dim - 1)),
              i => coalesce(element_at(col("__graft_m"), i), lit(0.0)))
              .as("__graft_raw"))
      }
    raw
      .withColumn("__graft_norm",
        sqrt(aggregate(col("__graft_raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col(idCol),
        when(col("__graft_norm") > 0,
          transform(col("__graft_raw"), x => x / col("__graft_norm")))
          .otherwise(col("__graft_raw")).as("vec"))
  } }

  /** Per-ROW [[hashEmbed]]: the identical hashed-TF vector as a single
    * column expression — no groupBy, so it runs where aggregates can't
    * (streaming micro-batches, stream-static join probes). Output is
    * BIT-IDENTICAL to the aggregate path (integer ±1 sums; same
    * division-by-norm expression; spec-pinned), null for null/token-less
    * text (the aggregate path DROPS those rows — filter nulls after).
    * One JVM pass per row; a Scala UDF, so it sits outside codegen —
    * the digest dominates either way. */
  def hashEmbedCol(c: Column, dim: Int): Column = {
    require(dim >= 2 && dim <= 4096, s"hashEmbedCol dim out of range: $dim")
    val f = udf { raw: Seq[String] =>
      val toks = if (raw == null) null else raw.filter(_.nonEmpty)
      if (toks == null || toks.isEmpty) null
      else {
        val acc = new Array[Double](dim)
        val md = java.security.MessageDigest.getInstance("MD5")
        toks.foreach { t =>
          md.reset()
          val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 15 hex chars = high 60 bits of the first 8 bytes
          var h = 0L
          var i = 0
          while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
          val idx = java.lang.Long.remainderUnsigned(h >>> 4, dim.toLong).toInt
          // 16th hex char = low nibble of byte 7; sign from its parity
          val sgn = if ((d(7) & 1) == 0) 1.0 else -1.0
          acc(idx) += sgn
        }
        var n2 = 0.0
        var i = 0
        while (i < dim) { n2 += acc(i) * acc(i); i += 1 }
        if (n2 > 0) {
          val nm = math.sqrt(n2)
          var j = 0
          while (j < dim) { acc(j) = acc(j) / nm; j += 1 }
        }
        acc.toSeq
      }
    }
    f(tokens(c))
  }

  /** PII scrubbing for training corpora: emails, IPv4 addresses, and
    * long digit runs (phone/account numbers) replaced with typed
    * placeholder tokens. Pure codegen'd regexp_replace chain — no UDF, no
    * shuffle. Patterns deliberately use only constructs with identical
    * semantics in Java regex and RE2 (character classes, bounded repeats,
    * \d, word boundaries), so the scrub is reproducible outside Spark. */
  def scrubPii(c: Column): Column = {
    val email = regexp_replace(c,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val ip = regexp_replace(email,
      "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>")
    regexp_replace(ip, "\\b\\d{7,}\\b", "<NUM>")
  }

  /** Gopher-style repetition signals (Rae et al. 2021, "Scaling Language
    * Models: Methods, Analysis & Insights from Training Gopher", table A1):
    * the standard quality filters for removing boilerplate- and
    * repetition-heavy documents from a training corpus. Computed in ONE
    * typed JVM pass per row (tokenize once, hash-map counts) — a pure
    * per-row map with no shuffle; the interpreted-HOF formulation would
    * re-walk the token array per n-gram size. Signals:
    *
    *  - `n_lines`, `dup_line_frac`: trimmed non-empty lines; fraction of
    *    line occurrences beyond the first of their value;
    *  - `dup_line_char_frac`: characters in lines occurring >1 time (all
    *    occurrences) over total line characters;
    *  - `top_{2,3}gram_char_frac`: chars covered by the most frequent
    *    word n-gram (count × n-gram length, ties broken by smallest
    *    n-gram for determinism) over total text length;
    *  - `dup_{5,10}gram_char_frac`: Σ (count−1) × length over n-grams
    *    occurring >1 time, over total text length — a documented
    *    simplification of Gopher's coverage measure (overlapping
    *    occurrences are each charged, not merged).
    *
    * Documents shorter than n tokens contribute 0 for that n-gram signal.
    * All ratios are exact integer quotients — bit-identical to any engine
    * computing the same counts (the DuckDB oracle reproduces them). */
  def repetitionSignals(df: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.na.drop(Seq(idCol, textCol))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .map { case (id, text) =>
        // ---- line signals --------------------------------------------------
        val lines = text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toArray
        val nLines = lines.length
        val lineCounts = new java.util.HashMap[String, Int]()
        var lineChars = 0L
        lines.foreach { l =>
          lineCounts.merge(l, 1, (a, b) => a + b); lineChars += l.length
        }
        var dupLineChars = 0L
        lineCounts.forEach { (l, c) =>
          if (c > 1) dupLineChars += c.toLong * l.length
        }
        val dupLineFrac =
          if (nLines == 0) 0.0
          else (nLines - lineCounts.size).toDouble / nLines
        val dupLineCharFrac =
          if (lineChars == 0) 0.0 else dupLineChars.toDouble / lineChars
        // ---- n-gram signals ------------------------------------------------
        val toks = fastTokens(text)
        val total = text.length.toDouble
        def counts(n: Int): java.util.HashMap[String, Int] = {
          val m = new java.util.HashMap[String, Int]()
          var i = 0
          while (i + n <= toks.length) {
            val sb = new StringBuilder(toks(i))
            var j = 1
            while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
            m.merge(sb.toString, 1, (a, b) => a + b)
            i += 1
          }
          m
        }
        def topFrac(n: Int): Double =
          if (toks.length < n || total == 0) 0.0
          else {
            var bestC = 0
            var bestG: String = null
            counts(n).forEach { (g, c) =>
              if (c > bestC || (c == bestC && (bestG == null || g < bestG))) {
                bestC = c; bestG = g
              }
            }
            bestC.toLong * bestG.length / total
          }
        def dupFrac(n: Int): Double =
          if (toks.length < n || total == 0) 0.0
          else {
            var dup = 0L
            counts(n).forEach { (g, c) =>
              if (c > 1) dup += (c - 1).toLong * g.length
            }
            dup / total
          }
        (id, nLines.toLong, dupLineFrac, dupLineCharFrac,
          topFrac(2), topFrac(3), dupFrac(5), dupFrac(10))
      }
      .toDF(idCol, "n_lines", "dup_line_frac", "dup_line_char_frac",
        "top_2gram_char_frac", "top_3gram_char_frac",
        "dup_5gram_char_frac", "dup_10gram_char_frac")
  }

  // ---- heuristic corpus filters (Gopher rules + C4 rules) ------------------

  /** Gopher's 8 high-frequency English stop words — the "must contain at
    * least 2" existence check (Rae et al. 2021, table A1), distinct from
    * the RATIO stopword list above. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Heuristic quality-filter signals à la Gopher (Rae et al. 2021,
    * table A1) and C4 (Raffel et al. 2020, §2.2), as pure Catalyst
    * column expressions appended to the frame — whole-stage codegen, no
    * shuffle, no UDF; the corpus is filtered in a single map pass.
    * Appended columns:
    *
    *  - `word_count`, `mean_word_len`, `alpha_word_frac` (words with ≥1
    *    ASCII letter), `symbol_word_ratio` ('#' or ellipsis per word),
    *    `stopword_hits` (distinct [[GopherStopwords]] present),
    *  - `bullet_line_frac` / `ellipsis_line_frac` / `terminal_punct_line_frac`
    *    over trimmed non-empty lines,
    *  - `sentence_count` (terminal-punctuation chars — C4's sentence
    *    proxy), `has_lorem_ipsum`, `has_brace`,
    *  - `keep_gopher`: word count in [minWords, maxWords], mean word
    *    length in [3, 10], symbol/word ≤ 0.1, bullets ≤ 90% of lines,
    *    ellipses ≤ 30% of lines, ≥ 80% alphabetic words, ≥ 2 stop words;
    *  - `keep_c4`: ≥ 3 sentences, ≥ 5 words, no "lorem ipsum", no '{'.
    *
    * Null text yields null signals and false keeps. Thresholds follow the
    * papers; word-count bounds are parameters because Gopher's 50 lower
    * bound is corpus-dependent. */
  def qualityFilters(df: DataFrame, textCol: String,
                     minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val c = col(textCol)
    // materialize shared arrays once per row (HOFs are interpreted —
    // round-2 lesson: never re-tokenize inside each consumer)
    val toksC = "__qf_toks"
    val linesC = "__qf_lines"
    val words = col(toksC)
    val lines = col(linesC)
    val nWords = size(words)
    val nLines = size(lines)
    val wordsD = greatest(nWords, lit(1)).cast("double")
    val linesD = greatest(nLines, lit(1)).cast("double")
    def charCount(src: Column, ch: String): Column =
      length(src) - length(translate(src, ch, ""))
    val ellipses =
      ((length(c) - length(regexp_replace(c, "\\.\\.\\.", ""))) / lit(3) +
        charCount(c, "…")).cast("long")

    val out = df
      .withColumn(toksC, filter(split(trim(c), "\\s+"), w => w =!= ""))
      .withColumn(linesC,
        filter(transform(split(c, "\n"), l => trim(l)), l => l =!= ""))
      .withColumn("word_count", nWords)
      .withColumn("mean_word_len",
        aggregate(words, lit(0L), (a, w) => a + length(w)) / wordsD)
      .withColumn("alpha_word_frac",
        size(filter(words, w => w.rlike("[A-Za-z]"))) / wordsD)
      .withColumn("symbol_word_ratio",
        (charCount(c, "#") + ellipses) / wordsD)
      .withColumn("stopword_hits",
        GopherStopwords.map(w => when(array_contains(words, w), 1)
          .otherwise(0)).reduce(_ + _))
      .withColumn("bullet_line_frac",
        size(filter(lines, l => l.rlike("^[-*•]"))) / linesD)
      .withColumn("ellipsis_line_frac",
        size(filter(lines, l => l.rlike("(\\.\\.\\.|…)$"))) / linesD)
      .withColumn("terminal_punct_line_frac",
        size(filter(lines, l => l.rlike("[.!?\"']$"))) / linesD)
      .withColumn("sentence_count", charCount(c, ".!?").cast("long"))
      .withColumn("has_lorem_ipsum", lower(c).contains("lorem ipsum"))
      .withColumn("has_brace", c.contains("{"))
    out
      .withColumn("keep_gopher",
        coalesce(col("word_count").between(minWords, maxWords) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("bullet_line_frac") <= 0.9 &&
          col("ellipsis_line_frac") <= 0.3 &&
          col("alpha_word_frac") >= 0.8 &&
          col("stopword_hits") >= 2, lit(false)))
      .withColumn("keep_c4",
        coalesce(col("sentence_count") >= 3 && col("word_count") >= 5 &&
          !col("has_lorem_ipsum") && !col("has_brace"), lit(false)))
      .drop(toksC, linesC)
  }

  /** Corpus composition report: per group (source / language / quality
    * tier), document count, weight mass (e.g. chars or tokens — the unit a
    * mixing recipe is written in), and each group's share of the corpus
    * total. Shares attach via a broadcast crossJoin of the scalar totals
    * (the group frame is #groups rows — never a windowed global sum), so
    * the whole report is two partial/final hash aggregates over one scan.
    * The report is the input to mixture rebalancing: compare `weight_share`
    * against a target mix, derive per-group rates for
    * [[Sampling.stratifiedSample]] / [[Sampling.weightedSample]]. */
  def corpusMix(df: DataFrame, groupCol: String, weightCol: String): DataFrame = {
    val grouped = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol).cast("double")).as("weight_sum"))
    val totals = df.agg(count(lit(1)).as("__n_total"),
      sum(col(weightCol).cast("double")).as("__w_total"))
    grouped.crossJoin(broadcast(totals))
      .withColumn("doc_share", col("n_docs") / col("__n_total"))
      .withColumn("weight_share", col("weight_sum") / col("__w_total"))
      .drop("__n_total", "__w_total")
  }

  /** Mixture plan: given a target composition (`targetShares`, by group,
    * summing to ≤ 1; groups absent from the map get share 0) and a total
    * weight budget (`targetTotal`, e.g. tokens), derive the per-group
    * Bernoulli sampling RATE that realizes the closest achievable mix:
    * `rate_g = min(1, target_share_g · targetTotal / current_mass_g)`.
    * The `achievable` flag is false where a group's corpus mass cannot
    * cover its target (rate clamps at 1 — sampling can only downweight;
    * re-balance the remaining budget or upsample externally).
    *
    * The output feeds [[Sampling.stratifiedSample]] (rates by group) or
    * per-group [[Sampling.weightedSample]] directly; the whole plan is
    * one grouped aggregate + broadcast literals. */
  def mixPlan(df: DataFrame, groupCol: String, weightCol: String,
              targetShares: Map[String, Double],
              targetTotal: Double): DataFrame = {
    require(targetTotal > 0, s"targetTotal must be > 0, got $targetTotal")
    targetShares.foreach { case (g, s) =>
      require(s >= 0 && s <= 1, s"target share for '$g' must be in [0,1]")
    }
    require(targetShares.values.sum <= 1.0 + 1e-9,
      "target shares must sum to <= 1")
    val share = targetShares.foldLeft(lit(0.0)) { case (acc, (g, sh)) =>
      when(col(groupCol) === lit(g), lit(sh)).otherwise(acc)
    }
    val grouped = df.na.drop(Seq(groupCol, weightCol))
      .groupBy(col(groupCol))
      .agg(sum(col(weightCol).cast("double")).as("current_mass"))
    // A target group with ZERO corpus rows (or all-null weights) must still
    // surface — rate 0, achievable=false — rather than vanish: the plan's
    // whole point is flagging exactly the shares the corpus cannot cover.
    // Outer-join a literal #targets-row frame of the map's keys into the
    // grouped frame (both sides are #groups-sized — this never touches df).
    import df.sparkSession.implicits._
    val targetKeys = targetShares.keys.toSeq.toDF(groupCol)
    grouped.join(targetKeys, Seq(groupCol), "full_outer")
      .withColumn("current_mass", coalesce(col("current_mass"), lit(0.0)))
      .withColumn("target_mass", share * lit(targetTotal))
      // zero-mass group: nothing to sample (rate 0) — and guard the ANSI
      // divide-by-zero a plain ratio would throw
      .withColumn("rate",
        when(col("current_mass") > 0,
          least(lit(1.0), col("target_mass") / col("current_mass")))
          .otherwise(lit(0.0)))
      .withColumn("achievable", col("target_mass") <= col("current_mass"))
  }

  /** Per-document n-gram novelty: the fraction of a document's DISTINCT
    * n-grams whose first corpus-wide occurrence (minimum id) is this
    * document — the contribution-scoring signal that ranks documents by
    * how much genuinely new text they add to the corpus (near-zero novelty
    * = boilerplate/template; use as a dedup-adjacent quality filter or a
    * curriculum ordering key). Returns (idCol, n_grams, n_novel, novelty).
    *
    * Scale shape: the shingle stream ([[Dedup.shingled]] — 8-byte hash
    * keys, per-doc deduped) feeds two map-side-combined aggregates —
    * grams per doc, and min-id per gram folded straight into a novel-gram
    * count per OWNER doc — joined at document granularity. The posting
    * stream is never re-shuffled through a gram-keyed join (the naive
    * sh ⋈ first-occurrence formulation pays a second full-stream
    * shuffle); everything after the two aggregates is #docs-sized. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 8): DataFrame = {
    require(n >= 1, s"ngramNovelty needs n >= 1, got $n")
    graft.util.Errors.context("ngramNovelty", Seq(idCol, textCol)) {
    val sh = Dedup.shingled(df, idCol, textCol, n)
    val perDoc = sh.groupBy(col("__id")).agg(count(lit(1)).as("n_grams"))
    val novelPerOwner = sh.groupBy("sh").agg(min("__id").as("__first"))
      .groupBy("__first").agg(count(lit(1)).as("n_novel"))
    val novel = coalesce(col("n_novel"), lit(0L))
    perDoc.join(novelPerOwner, col("__id") === col("__first"), "left")
      .select(col("__id").as(idCol), col("n_grams"),
        novel.as("n_novel"),
        (novel.cast("double") / col("n_grams").cast("double")).as("novelty"))
  } }

  /** Convenience: append all analysis columns. */
  def analyze(df: DataFrame, textCol: String): DataFrame = {
    val c = col(textCol)
    withLanguageId(
      df.withColumn("n_tokens", tokenCount(c))
        .withColumn("n_subwords", subwordCount(c))
        .withColumn("punct_ratio", punctRatio(c))
        .withColumn("stopword_ratio", stopwordRatio(c))
        .withColumn("mean_word_len", meanWordLen(c))
        .withColumn("quality", qualityScore(c))
        .withColumn("fingerprint", fingerprint(c)),
      textCol)
  }
}
