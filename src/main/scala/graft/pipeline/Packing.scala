package graft.pipeline

import graft.util.PartitionPrefixScan
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Sequence packing: assign documents to fixed-token-budget context
  * windows for LLM training. Two tiers, matching the two strategies real
  * pipelines use:
  *
  *  - [[chunkedPack]] — GPT-style concatenate-and-chunk: documents are
  *    laid out in id order as one token stream and cut every `budget`
  *    tokens; a document may straddle a cut (its `first_bin`/`last_bin`
  *    then differ and the trainer splits it). Fully deterministic and
  *    exactly reproducible in SQL (it is a prefix-sum), so it is the
  *    oracle-checked tier.
  *  - [[packGreedy]] — first-fit bin packing WITHOUT splitting documents
  *    (BERT/T5-style "sequence packing"): greedy first-fit into open
  *    bins, per partition. Global first-fit is inherently sequential, so
  *    the scale design packs each partition independently — bin ids are
  *    `partition << 40 | local` and the per-partition tail waste is
  *    amortized to nothing when partitions hold ≫ budget tokens.
  *
  * The prefix sum in chunkedPack is a [[PartitionPrefixScan]] (one sort
  * shuffle, a #partitions-sized collect, one streaming pass) — never an
  * unpartitioned window. */
object Packing {

  private val packSchema = StructType(Seq(
    StructField("id", LongType), StructField("tokens", LongType),
    StructField("start_token", LongType), StructField("first_bin", LongType),
    StructField("last_bin", LongType)))

  /** Concatenate-and-chunk layout. Returns (id, tokens, start_token,
    * first_bin, last_bin): the document's tokens occupy stream positions
    * [start_token, start_token+tokens), and bins are budget-sized cuts of
    * the stream. Zero-token documents take no space (`last_bin` ==
    * `first_bin`). Null ids/token counts are dropped; negative counts are
    * rejected at runtime. */
  def chunkedPack(df: DataFrame, idCol: String, tokensCol: String,
                  budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val src = df.select(col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("tokens"))
      .na.drop(Seq("id", "tokens"))
    val scan = PartitionPrefixScan.sorted(src, col("id"))
    val totals = scan.summarize { it =>
      var s = 0L
      it.foreach { r =>
        val t = r.getLong(1)
        require(t >= 0, s"negative token count $t")
        s += t
      }
      s
    }
    scan.emit(totals.scanLeft(0L)(_ + _), packSchema) { (start0, it) =>
      var start = start0
      it.map { r =>
        val t = r.getLong(1)
        val s = start
        start += t
        val o = new GenericInternalRow(5)
        o.update(0, r.getLong(0)); o.update(1, t); o.update(2, s)
        o.update(3, s / budget)
        o.update(4, (s + math.max(t, 1L) - 1L) / budget)
        o: InternalRow
      }
    }
      .withColumnRenamed("id", idCol)
  }

  /** First-fit packing without splitting: each doc goes to the first open
    * bin with room; a doc larger than the budget gets a bin of its own.
    * At most `maxOpenBins` bins stay open per partition (the oldest is
    * sealed when the list is full) — bounded memory, and the utilization
    * loss vs unbounded first-fit is negligible for realistic token
    * distributions. Deterministic: docs are processed in id order within
    * hash-assigned partitions. Returns (id, tokens, bin). */
  def packGreedy(df: DataFrame, idCol: String, tokensCol: String,
                 budget: Long, maxOpenBins: Int = 64): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(maxOpenBins > 0, s"maxOpenBins must be positive")
    val spark = df.sparkSession
    import spark.implicits._
    val np = spark.sessionState.conf.numShufflePartitions
    df.select(col(idCol).cast("long").as("id"),
        col(tokensCol).cast("long").as("tokens"))
      .na.drop(Seq("id", "tokens"))
      .repartition(np, col("id"))
      .sortWithinPartitions("id")
      .as[(Long, Long)]
      .mapPartitions { it =>
        val pi = org.apache.spark.TaskContext.getPartitionId().toLong
        var nextLocal = 0L
        // open bins as (binId, remaining)
        val open = new scala.collection.mutable.ArrayDeque[(Long, Long)]()
        def newBin(): Long = { val b = (pi << 40) | nextLocal; nextLocal += 1; b }
        it.map { case (id, t) =>
          require(t >= 0, s"negative token count $t")
          val fit = open.indexWhere(_._2 >= t)
          val bin =
            if (t >= budget) newBin() // oversize or exact fill: own bin, sealed
            else if (fit >= 0) {
              val (b, rem) = open(fit)
              if (rem - t == 0) open.remove(fit) else open(fit) = (b, rem - t)
              b
            } else {
              if (open.size >= maxOpenBins) open.removeHead()
              val b = newBin()
              open.append((b, budget - t))
              b
            }
          (id, t, bin)
        }
      }
      .toDF(idCol, "tokens", "bin")
  }

  /** One-row packing report: bins, docs, tokens, the largest bin, and
    * utilization = total_tokens / (n_bins × budget). `n_overfull` counts
    * bins above budget — nonzero only when single documents exceed the
    * budget (they pack alone). */
  def packingSummary(packed: DataFrame, budget: Long): DataFrame = {
    val perBin = packed.groupBy("bin")
      .agg(sum("tokens").as("bin_tokens"), count(lit(1)).as("bin_docs"))
    perBin.agg(
      count(lit(1)).as("n_bins"),
      sum("bin_docs").as("n_docs"),
      sum("bin_tokens").as("total_tokens"),
      max("bin_tokens").as("max_bin_tokens"),
      sum(when(col("bin_tokens") > budget, 1L).otherwise(0L)).as("n_overfull"),
      round(sum("bin_tokens") / (count(lit(1)) * lit(budget.toDouble)), 6)
        .as("utilization"))
  }

  // ---- shard export --------------------------------------------------------

  /** Deterministic shard assignment for corpus EXPORT: documents in id
    * order, shard = the ~`shardTokens`-sized stream cut where the doc
    * STARTS (docs never split — the no-split reading of [[chunkedPack]]'s
    * layout, so a shard overruns by at most one document). Returns
    * (idCol, tokens, shard). Deterministic given the corpus — a changed
    * corpus reshuffles assignments; this is an export layout, not an
    * append-stable key. */
  def shardPlan(df: DataFrame, idCol: String, tokensCol: String,
                shardTokens: Long): DataFrame =
    chunkedPack(df, idCol, tokensCol, shardTokens)
      .select(col(idCol), col("tokens"), col("first_bin").as("shard"))

  /** Per-document sliding-window chunking with overlap — the RAG/context-
    * window splitter ([[chunkedPack]] cuts the CONCATENATED stream across
    * documents; this cuts WITHIN each document and never mixes two docs in
    * one chunk). Chunks are `window` tokens advancing by
    * `window − overlap`; when the tail would fall short, the LAST chunk is
    * right-aligned to the final `window` tokens (full width, possibly
    * deeper overlap with its predecessor) — no sub-overlap tail fragments,
    * every token covered, chunk count = 1 + ceil((n−window)/stride) —
    * deterministic and closed-form, so SQL replays it exactly. A doc with
    * n ≤ window yields itself as its single chunk.
    *
    * Scale shape: one typed flatMap over (id, text) — ZERO shuffles, no
    * per-doc state beyond the token array; chunk ids are (doc, position)
    * so downstream group-bys key on the doc id prefix. Tokenization is
    * [[TextAnalysis.fastTokens]] (whitespace semantics shared with the
    * rest of the text tier). Output: (idCol, chunk_id, start_token,
    * n_tokens, chunk). */
  def chunkSplit(df: DataFrame, idCol: String, textCol: String,
                 window: Int, overlap: Int): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    require(overlap >= 0 && overlap < window,
      s"overlap must be in [0, window), got $overlap")
    Similarity.requireIntegralId(df, idCol, "chunkSplit")
    graft.util.Errors.context("chunkSplit", Seq(idCol, textCol)) {
    val spark = df.sparkSession
    import spark.implicits._
    val stride = window - overlap
    df.na.drop(Seq(idCol, textCol))
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val toks = TextAnalysis.fastTokens(text)
        val n = toks.length
        if (n <= window)
          Iterator.single((id, 0, 0, n, toks.mkString(" ")))
        else {
          val m = 1 + ((n - window + stride - 1) / stride)
          (0 until m).iterator.map { k =>
            val s = if (k == m - 1) n - window else k * stride
            (id, k, s, window, toks.slice(s, s + window).mkString(" "))
          }
        }
      }
      .toDF(idCol, "chunk_id", "start_token", "n_tokens", "chunk")
  } }

  /** Write the corpus as token-budgeted training shards:
    * `path/shard=N/...parquet` via a partitioned write (one directory per
    * shard — the layout loaders shard-shuffle from), plus a manifest at
    * `path/_graft_manifest` (shard, n_docs, tokens). Returns the
    * manifest. Cost: the [[shardPlan]] prefix sums + one id-keyed join
    * to carry the full rows + the partitioned write. */
  def writeShards(df: DataFrame, idCol: String, tokensCol: String,
                  path: String, shardTokens: Long): DataFrame = {
    val plan = shardPlan(df, idCol, tokensCol, shardTokens)
    val assigned = df.join(plan.select(col(idCol), col("shard")), idCol)
    assigned.write.partitionBy("shard").mode("overwrite").parquet(path)
    val manifest = plan.groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("tokens"))
    manifest.coalesce(1).write.mode("overwrite")
      .parquet(s"$path/_graft_manifest")
    manifest
  }
}
