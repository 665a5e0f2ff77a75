package graft.pipeline

import graft.util.PartitionPrefixScan
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Reproducible sampling for training-data pipelines. `df.sample()` is
  * seed-stable only for a FIXED partitioning — repartition the input (or
  * re-run after appends) and membership churns, which silently changes a
  * training set. These operators key membership on a deterministic hash of
  * a stable id column instead: a row's membership never depends on
  * partitioning, row order, or the rest of the corpus — append-safe,
  * re-runnable, and cheap (pure projection arithmetic inside whole-stage
  * codegen, no shuffle).
  *
  * The hash: fold the full 64-bit id into the Lehmer field
  * (`x₀ = (lo₃₁ + hi·48271) mod (2^31 − 2) + 1` over the id's low/high
  * halves — a plain `id mod` would systematically alias ids 2^31 − 2
  * apart), run THREE Park-Miller steps `x → (x·48271) mod (2^31 − 1)`,
  * inject the seed AFTER that nonlinearity (`y₀ = (x₃ + seed') mod
  * (2^31 − 2) + 1` — adding the seed to the id directly would make every
  * seed a pure shift of the id stream, `key(id, s+Δ) = key(id+Δ, s)`),
  * then TWO more steps and fold to (0, 1). One step is NOT enough: for
  * sequential ids below ~44k a single multiply never wraps the modulus,
  * so every key lands near 0 and a 30% sample keeps 100% of the rows
  * (measured). The `+ 1`s avoid the generator's 0 fixed point; every
  * intermediate stays below 2^33·48271 ≈ 4e14 (ANSI-mode safe in a
  * long), and the arithmetic is expressible verbatim in any SQL engine,
  * so sampling decisions can be reproduced (and oracle-checked) outside
  * Spark. The key space is 31-bit: ids beyond ~2^31 necessarily share
  * keys statistically (fine for sampling), just never at a small linear
  * offset. Seeds are effective mod 2^31 − 2.
  */
object Sampling {

  private val M = 2147483647L // 2^31 − 1 (prime)
  private val A = 48271L      // Park–Miller multiplier

  /** uniform (0, 1) sampling key for an integral id */
  def hashKey(id: Column, seed: Long = 0L): Column = {
    val idL = id.cast("long")
    val lo = pmod(idL, lit(2147483648L))          // low 31 bits
    val hi = shiftrightunsigned(idL, 31)          // high 33 bits
    val x0 = pmod(lo + hi * lit(A), lit(M - 1)) + lit(1L)
    val x3 = (1 to 3).foldLeft(x0)((x, _) => pmod(x * lit(A), lit(M)))
    val y0 = pmod(x3 + lit(math.floorMod(seed, M - 1)), lit(M - 1)) + lit(1L)
    val y2 = (1 to 2).foldLeft(y0)((x, _) => pmod(x * lit(A), lit(M)))
    y2.cast("double") / lit(M.toDouble)
  }

  /** Keep ~`fraction` of rows, keyed on `idCol` — same id always makes the
    * same decision under the same seed. */
  def hashSample(df: DataFrame, idCol: String, fraction: Double,
                 seed: Long = 0L): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction must be in [0,1]")
    Similarity.requireIntegralId(df, idCol, "hashSample")
    df.filter(hashKey(col(idCol), seed) < lit(fraction))
  }

  /** Per-stratum fractions (downsample dominant languages / quality tiers):
    * rows of strata absent from `fractions` are dropped, mirroring
    * `sampleBy`. The fraction map rides into the plan as a literal CASE —
    * no join, no shuffle. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double],
                       seed: Long = 0L): DataFrame = {
    fractions.foreach { case (k, f) =>
      require(f >= 0 && f <= 1, s"fraction for '$k' must be in [0,1], got $f")
    }
    Similarity.requireIntegralId(df, idCol, "stratifiedSample")
    val frac = fractions.foldLeft(lit(0.0)) { case (acc, (k, f)) =>
      when(col(stratumCol) === lit(k), lit(f)).otherwise(acc)
    }
    df.filter(hashKey(col(idCol), seed) < frac)
  }

  /** Neyman (optimal) allocation for stratified sampling: given a
    * total budget `targetN`, allocate per-stratum sample sizes
    * n_h ∝ N_h·S_h (stratum size × stratum stddev of `valueCol`) —
    * the variance-minimizing design, which beats proportional
    * allocation exactly when strata differ in spread. Returns the
    * allocation table: (stratum, n_rows, stddev, weight = N_h·S_h,
    * fraction = min(1, alloc/N_h)). Single-row strata (undefined S)
    * and zero-spread strata get weight 0 — they need ≤1 sample for a
    * zero-variance mean and are deliberately starved; budget them
    * separately if representation matters. Stddev is the explicit
    * raw-sums chain (not the builtin aggregate) so an oracle replays
    * it term-for-term. One hash aggregate to the stratum frame +
    * one scalar fold — strata ≪ rows by construction. */
  def neymanAllocation(df: DataFrame, stratumCol: String, valueCol: String,
                       targetN: Long): DataFrame = {
    require(targetN >= 1, s"neymanAllocation: targetN must be >= 1")
    val x = col(valueCol).cast("double")
    val g = df.na.drop(Seq(stratumCol, valueCol))
      .groupBy(col(stratumCol).as("stratum"))
      .agg(count(lit(1)).as("n_rows"), sum(x).as("__s"),
        sum(x * x).as("__ss"))
    val n = col("n_rows").cast("double")
    val variance = (col("__ss") - col("__s") * col("__s") / n) / (n - 1)
    val sd = when(col("n_rows") >= 2 && variance > 0, sqrt(variance))
      .otherwise(lit(0.0))
    val withW = g
      .withColumn("stddev", sd)
      .withColumn("weight", n * col("stddev"))
    val totW = withW.agg(sum("weight").as("__tw"))
    withW.crossJoin(broadcast(totW))
      .withColumn("fraction",
        when(col("__tw") > 0,
          least(lit(1.0), lit(targetN.toDouble) * col("weight") /
            col("__tw") / n)).otherwise(lit(0.0)))
      .select("stratum", "n_rows", "stddev", "weight", "fraction")
  }

  /** [[neymanAllocation]] applied: keep each row iff its Lehmer key
    * falls under its stratum's allocated fraction — the same
    * partitioning-independent membership as [[stratifiedSample]], with
    * the fractions LEARNED from the data instead of passed in. The
    * allocation frame is strata-sized and broadcasts. */
  def neymanSample(df: DataFrame, idCol: String, stratumCol: String,
                   valueCol: String, targetN: Long,
                   seed: Long = 0L): DataFrame = {
    Similarity.requireIntegralId(df, idCol, "neymanSample")
    val alloc = neymanAllocation(df, stratumCol, valueCol, targetN)
      .select(col("stratum").as("__ney_stratum"),
        col("fraction").as("__ney_f"))
    df.join(broadcast(alloc), col(stratumCol) === col("__ney_stratum"))
      .filter(hashKey(col(idCol), seed) < col("__ney_f"))
      .drop("__ney_stratum", "__ney_f")
  }

  /** Deterministic fractional REPLICATION — the upsampling half of
    * mixture control ("2.5 epochs of wikipedia per training pass")
    * downsampling alone can't express. Every row gets `floor(factor)`
    * copies plus one more iff its Lehmer key falls under the fractional
    * part, so factor < 1 degrades exactly to [[hashSample]], factor = 1
    * is the identity (one replica), and expected mass is factor·n with
    * per-id decisions reproducible across runs, partitionings, and
    * engines. Output adds `replica` (0-based) so (id, replica) stays a
    * key for downstream shuffles/splits.
    *
    * Pure column arithmetic + one explode of a ≤ ⌈factor⌉-element
    * sequence — no join, no shuffle, no RNG state; rows with zero copies
    * vanish through the explode. */
  def upsample(df: DataFrame, idCol: String, factor: Double,
               seed: Long = 0L): DataFrame = {
    require(factor >= 0, s"factor must be >= 0, got $factor")
    Similarity.requireIntegralId(df, idCol, "upsample")
    graft.util.Errors.context("upsample", Seq(idCol)) {
      upsampled(df.na.drop(Seq(idCol)), idCol, lit(factor), seed)
    }
  }

  /** Per-group replication factors as a literal CASE (no join, no
    * shuffle): the mixture-plan apply step when some groups need MORE
    * than one epoch. Groups absent from `factors` keep one replica
    * (factor 1.0) — upsampling is additive, unlike [[stratifiedSample]]'s
    * drop-absent contract. */
  def upsampleBy(df: DataFrame, idCol: String, groupCol: String,
                 factors: Map[String, Double],
                 seed: Long = 0L): DataFrame = {
    factors.foreach { case (k, f) =>
      require(f >= 0, s"factor for '$k' must be >= 0, got $f")
    }
    Similarity.requireIntegralId(df, idCol, "upsampleBy")
    val fac = factors.foldLeft(lit(1.0)) { case (acc, (k, f)) =>
      when(col(groupCol) === lit(k), lit(f)).otherwise(acc)
    }
    graft.util.Errors.context("upsampleBy", Seq(idCol, groupCol)) {
      upsampled(df.na.drop(Seq(idCol)), idCol, fac, seed)
    }
  }

  private def upsampled(df: DataFrame, idCol: String, fac: Column,
                        seed: Long): DataFrame = {
    val copies = (floor(fac) +
      when(hashKey(col(idCol), seed) < fac - floor(fac), 1L).otherwise(0L))
      .cast("int")
    df.withColumn("__graft_copies", copies)
      .filter(col("__graft_copies") > 0)
      .withColumn("replica",
        explode(sequence(lit(0), col("__graft_copies") - 1)))
      .drop("__graft_copies")
  }

  /** Deterministic train/validation/test assignment: adds `splitCol` with
    * values "train"/"val"/"test" by hash range — membership survives
    * appends and re-partitioning, the property random splits lack. Rows
    * with a null id are DROPPED (they have no stable membership key; the
    * CASE's otherwise-branch would silently dump them all into "train"),
    * matching hashSample/stratifiedSample. */
  def trainTestSplit(df: DataFrame, idCol: String, valFraction: Double,
                     testFraction: Double, seed: Long = 0L,
                     splitCol: String = "split"): DataFrame = {
    require(valFraction >= 0 && valFraction <= 1,
      s"valFraction must be in [0,1], got $valFraction")
    require(testFraction >= 0 && testFraction <= 1,
      s"testFraction must be in [0,1], got $testFraction")
    require(valFraction + testFraction < 1.0, "val + test must leave train mass")
    Similarity.requireIntegralId(df, idCol, "trainTestSplit")
    val k = hashKey(col(idCol), seed)
    df.na.drop(Seq(idCol)).withColumn(splitCol,
      when(k < lit(testFraction), lit("test"))
        .when(k < lit(testFraction + valFraction), lit("val"))
        .otherwise(lit("train")))
  }

  /** Contamination-safe train/val/test split: near-duplicate GROUPS never
    * straddle a split boundary. [[trainTestSplit]] hashed on the row id
    * leaks: two near-identical documents can land one in train and one in
    * val, and the val metric silently measures memorization. Here the
    * hash key is the duplicate-component REPRESENTATIVE (the `component`
    * label from [[Components.connectedComponents]] over a near-dup pair
    * stream), so a whole clique moves as one unit; rows absent from
    * `components` (no near-dup) are their own representative — identical
    * to the plain split for them (same hash, same seed).
    *
    * Scale shape: one left join against the components frame, which only
    * holds ids that appear in dup pairs — tiny next to the corpus at
    * realistic dup rates, so AQE broadcasts it; everything else is the
    * same pure projection as [[trainTestSplit]]. */
  def componentSafeSplit(df: DataFrame, components: DataFrame, idCol: String,
                         valFraction: Double, testFraction: Double,
                         seed: Long = 0L,
                         splitCol: String = "split"): DataFrame = {
    require(valFraction >= 0 && valFraction <= 1,
      s"valFraction must be in [0,1], got $valFraction")
    require(testFraction >= 0 && testFraction <= 1,
      s"testFraction must be in [0,1], got $testFraction")
    require(valFraction + testFraction < 1.0, "val + test must leave train mass")
    Similarity.requireIntegralId(df, idCol, "componentSafeSplit")
    graft.util.Errors.context("componentSafeSplit", Seq(idCol)) {
    val comp = components.select(col("id").cast("long").as("__graft_cid"),
      col("component").cast("long").as("__graft_rep"))
    val k = hashKey(coalesce(col("__graft_rep"), col(idCol).cast("long")),
      seed)
    df.na.drop(Seq(idCol))
      .join(comp, col(idCol).cast("long") === col("__graft_cid"), "left")
      .withColumn(splitCol,
        when(k < lit(testFraction), lit("test"))
          .when(k < lit(testFraction + valFraction), lit("val"))
          .otherwise(lit("train")))
      .drop("__graft_cid", "__graft_rep")
  } }

  /** Deterministic k-fold assignment: fold = ⌊k · hashKey(id)⌋ (clamped
    * to k−1 at the key's open upper bound), so folds are an equal-width
    * cut of the same Lehmer key [[trainTestSplit]] uses — fold f under
    * k folds is EXACTLY the id set with key in [f/k, (f+1)/k), making
    * cross-validation splits consistent with the holdout split (fold 0
    * under k=10 ⊂ the 0.1-fraction test split at the same seed).
    * Append-safe and reproducible in plain SQL: a pure projection, no
    * shuffle, same id → same fold regardless of what else is in the
    * frame. Null ids are dropped. */
  def kFold(df: DataFrame, idCol: String, k: Int, seed: Long = 0L,
            foldCol: String = "fold"): DataFrame = {
    require(k >= 2, s"kFold needs k >= 2, got $k")
    Similarity.requireIntegralId(df, idCol, "kFold")
    graft.util.Errors.context("kFold", Seq(idCol)) {
    df.na.drop(Seq(idCol)).withColumn(foldCol,
      least(floor(hashKey(col(idCol), seed) * k), lit(k - 1L)).cast("int"))
  } }

  /** Contamination-safe [[kFold]]: the fold key is the near-dup
    * component representative (see [[componentSafeSplit]] — same join
    * shape, same leakage argument), so a duplicate clique lands in ONE
    * fold and k-fold cross-validation never validates on a near-copy of
    * a training document. Rows absent from `components` hash on their
    * own id, identical to plain [[kFold]] for them. */
  def componentSafeKFold(df: DataFrame, components: DataFrame,
                         idCol: String, k: Int, seed: Long = 0L,
                         foldCol: String = "fold"): DataFrame = {
    require(k >= 2, s"componentSafeKFold needs k >= 2, got $k")
    Similarity.requireIntegralId(df, idCol, "componentSafeKFold")
    graft.util.Errors.context("componentSafeKFold", Seq(idCol)) {
    val comp = components.select(col("id").cast("long").as("__graft_cid"),
      col("component").cast("long").as("__graft_rep"))
    val key = hashKey(coalesce(col("__graft_rep"), col(idCol).cast("long")),
      seed)
    df.na.drop(Seq(idCol))
      .join(comp, col(idCol).cast("long") === col("__graft_cid"), "left")
      .withColumn(foldCol,
        least(floor(key * k), lit(k - 1L)).cast("int"))
      .drop("__graft_cid", "__graft_rep")
  } }

  /** Weighted Bernoulli sampling: keep row i with probability
    * min(1, rate · wᵢ), decided by the deterministic id hash — the
    * quality-weighted downsampling step of a data-mixing pipeline (keep
    * high-quality documents with proportionally higher probability).
    * Expected output mass is `rate · Σ min-clamped wᵢ`; callers pick
    * `rate` from the target corpus size. Pure projection arithmetic in
    * whole-stage codegen — no shuffle, append-safe, reproducible in plain
    * SQL for audit. Rows with a null/negative weight never match. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     rate: Double, seed: Long = 0L): DataFrame = {
    require(rate >= 0, s"rate must be >= 0, got $rate")
    Similarity.requireIntegralId(df, idCol, "weightedSample")
    df.filter(hashKey(col(idCol), seed) <
      least(lit(1.0), col(weightCol).cast("double") * lit(rate)))
  }

  /** Fixed-size weighted sample WITHOUT replacement (Efraimidis–Spirakis
    * "A-ES", Inf. Process. Lett. 97(5), 2006): each row gets priority
    * u^(1/wᵢ) with u its deterministic (0,1) id-hash key; the k largest
    * priorities form the sample, giving weight-proportional inclusion in
    * the sequential-sampling sense. `orderBy.limit` plans as
    * TakeOrderedAndProject — bounded per-partition heaps merged on the
    * driver, never a global sort, so it holds at corpus scale for the
    * k ≪ n regime this is for. Ties (astronomically unlikely with 31-bit
    * keys) break on the id for determinism. Rows with null or
    * non-positive weight are excluded (their priority is undefined). */
  def weightedTopK(df: DataFrame, idCol: String, weightCol: String,
                   k: Int, seed: Long = 0L,
                   priorityCol: String = "priority"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    Similarity.requireIntegralId(df, idCol, "weightedTopK")
    df.filter(col(weightCol).cast("double") > 0)
      .withColumn(priorityCol,
        pow(hashKey(col(idCol), seed),
          lit(1.0) / col(weightCol).cast("double")))
      .orderBy(col(priorityCol).desc, col(idCol))
      .limit(k)
  }

  /** Fixed-size weighted sample PER STRATUM — the balanced-subset builder
    * (k docs from every source/language/domain, quality-weighted): the
    * Efraimidis–Spirakis priorities of [[weightedTopK]] ranked by a
    * row_number window KEYED on the strata columns, so the plan is one
    * shuffle on the strata key and a per-group ordered scan — no global
    * sort, no driver materialization, any number of strata. Same
    * determinism contract: priorities derive from the Lehmer id hash,
    * ties break on id, decisions are partitioning-independent and
    * reproducible in plain SQL. */
  def stratifiedTopK(df: DataFrame, idCol: String, weightCol: String,
                     strata: Seq[String], k: Int, seed: Long = 0L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(strata.nonEmpty, "stratifiedTopK needs at least one stratum column")
    Similarity.requireIntegralId(df, idCol, "stratifiedTopK")
    graft.util.Errors.context("stratifiedTopK", strata :+ weightCol) {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strata.map(col): _*)
      .orderBy(pow(hashKey(col(idCol), seed),
        lit(1.0) / col(weightCol).cast("double")).desc, col(idCol))
    df.filter(col(weightCol).cast("double") > 0)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") <= k)
      .drop("__graft_rn")
  } }

  /** [[temperatureSample]] with the group shares taken from a STATIC
    * `profile` frame instead of `df` itself — the streaming/incremental
    * form: a stream can't be re-aggregated per micro-batch for its own
    * shares, and an incremental pipeline wants each batch sampled against
    * the STANDING corpus mix, not its own. `df` may be a streaming frame
    * (the probs join is stream-static broadcast, the hash filter is
    * stateless); groups absent from the profile are DROPPED (no share →
    * no stable keep probability). */
  def temperatureSampleWith(df: DataFrame, profile: DataFrame,
                            idCol: String, groupCol: String,
                            alpha: Double, scale: Double,
                            seed: Long = 0L): DataFrame = {
    require(alpha > 0, s"alpha must be > 0, got $alpha")
    require(scale > 0, s"scale must be > 0, got $scale")
    Similarity.requireIntegralId(df, idCol, "temperatureSampleWith")
    graft.util.Errors.context("temperatureSampleWith", Seq(idCol, groupCol)) {
    val counts = profile.na.drop(Seq(groupCol))
      .groupBy(col(groupCol).as("__g"))
      .agg(count(lit(1)).as("__n"))
    val probs = counts.toDF("__g", "__ng")
      .crossJoin(broadcast(counts.agg(sum(col("__n")).as("__N"))))
      .select(col("__g"),
        least(lit(1.0), lit(scale) *
          pow(col("__ng").cast("double") / col("__N").cast("double"),
            lit(alpha - 1.0))).as("__q"))
    val clean = df.na.drop(Seq(idCol, groupCol))
    clean.join(broadcast(probs), clean(groupCol) === col("__g"))
      .filter(hashKey(col(idCol), seed) < col("__q"))
      .drop("__g", "__q")
  } }

  /** Temperature-based mixture rebalancing (the multilingual-corpus
    * exponent-smoothing sampler: keep probability per group g with share
    * p_g = n_g/N is `min(1, scale · p_g^(alpha−1))`). alpha < 1 upweights
    * tail groups (alpha → 0 approaches uniform-over-groups), alpha = 1 is
    * plain uniform sampling at `scale`. Membership uses the deterministic
    * Lehmer id hash — append-safe and SQL-reproducible like every sampler
    * here.
    *
    * Scale shape: ONE map-side-combined count aggregate (vocab-of-groups
    * rows), a scalar total folded in by crossJoin(broadcast(·)) — the
    * whole plan stays lazy, no driver action — and a broadcast join of the
    * per-group keep probability back onto the corpus: no corpus shuffle.
    * Rows with null id/group are dropped (no stable membership). */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
                        alpha: Double, scale: Double,
                        seed: Long = 0L): DataFrame =
    // self-profiled form: shares come from the same (cleaned) frame
    temperatureSampleWith(df, df.na.drop(Seq(idCol, groupCol)),
      idCol, groupCol, alpha, scale, seed)

  /** Deterministic epoch shuffle for reproducible training order: every
    * row gets a shard in [0, numShards) and a position within its shard,
    * both pure functions of (id, epoch, seed) — so the global order
    * (shard, pos) is a reproducible pseudorandom permutation that a
    * training job can replay byte-for-byte on any engine, any
    * partitioning, any run. Changing `epoch` re-deals the whole
    * permutation (the standard per-epoch reshuffle) without rewriting
    * data.
    *
    * Plan shape: one md5 projection (shard = low bits, order key = the
    * remaining 52 bits) + ONE shuffle on the shard key for the
    * per-shard row_number window. Shards sort independently — size
    * numShards so a shard fits an executor (rows/numShards ≈ 10-100M at
    * 100 TB) and the global sort never materializes; a training loader
    * reads shards in index order, rows in pos order. Ties on the order
    * key break on id, so duplicate-free ids give a total order.
    *
    * The hash basis is md5(id:epoch:seed) — the same cross-engine basis
    * as [[graft.pipeline.Dsir]] — not [[hashKey]]'s 31-bit Lehmer field:
    * a permutation wants 52-bit keys so collisions (and hence id-order
    * tie runs) are negligible at any corpus size.
    */
  /** Token-budget selection: the maximal score-descending prefix of the
    * corpus whose cumulative token count stays within `budget` — "fill a
    * 1T-token training budget with the best documents". Output = input
    * rows (minus nulls in the three key columns) plus `cum_tokens`, the
    * running token total in (score desc, id) order; exactly the rows
    * with `cum_tokens <= budget`.
    *
    * Scale shape: a [[PartitionPrefixScan]] on (score desc, id) —
    * per-partition token sums (#partitions longs to the driver), prefix
    * offsets broadcast back, and each partition emits its rows with
    * exact global cumulative counts. No global window, no
    * single-partition sort: partitions whose entire range clears the
    * budget stream straight through, and the sort shuffle is reused by
    * both passes (skipped-stage replay), so 100 TB costs one sort plus
    * two linear scans. Token counts are
    * expected non-negative (counts); `cum_tokens` is then non-decreasing
    * and the filter is a true prefix. */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                        tokenCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"tokenBudgetSelect needs budget >= 0, got $budget")
    graft.util.Errors.context("tokenBudgetSelect",
        Seq(idCol, scoreCol, tokenCol)) {
    // cast FIRST, then drop on the cast column too (the chunkedPack
    // convention): a cast-produced null (malformed token value under
    // non-ANSI cast) would otherwise reach getLong as a silent 0
    val src = df.na.drop(Seq(idCol, scoreCol, tokenCol))
      .withColumn("__graft_tok", col(tokenCol).cast("long"))
      .na.drop(Seq("__graft_tok"))
    val scan = PartitionPrefixScan.sorted(src, col(scoreCol).desc, col(idCol))
    val tokIdx = scan.schema.fieldIndex("__graft_tok")
    val sums = scan.summarize { it =>
      var s = 0L
      it.foreach(r => s += r.getLong(tokIdx))
      s
    }
    val outSchema = scan.schema.add("cum_tokens", LongType, nullable = false)
    scan.emit(sums.scanLeft(0L)(_ + _), outSchema) { (cum0, it) =>
      var cum = cum0
      val joined = new JoinedRow
      // filter (not takeWhile): keeps the output the exact window-sum
      // predicate `cum <= budget` for ANY input, matching the SQL oracle
      // even if a caller feeds a pathological negative token count
      it.flatMap { r =>
        cum += r.getLong(tokIdx)
        if (cum <= budget) {
          val c = new GenericInternalRow(1)
          c.update(0, cum)
          Iterator.single(joined(r, c): InternalRow)
        } else Iterator.empty
      }
    }
      .drop("__graft_tok")
  } }

  /** Per-group token budgets: within every `groupCol` value, keep the
    * maximal (score desc, id) prefix whose cumulative token count stays
    * within `budget` — per-source caps for mixture construction ("at
    * most N tokens from any one crawl"). One shuffle on the group key;
    * the window sorts within each group only, so parallelism is the
    * group cardinality and no global order ever materializes. A skewed
    * giant group bounds the worst task — split such a group upstream
    * (or sub-key it) if one source dominates the corpus. */
  def tokenBudgetPerGroup(df: DataFrame, idCol: String, groupCol: String,
                          scoreCol: String, tokenCol: String,
                          budget: Long): DataFrame = {
    require(budget >= 0, s"tokenBudgetPerGroup needs budget >= 0, got $budget")
    graft.util.Errors.context("tokenBudgetPerGroup",
        Seq(idCol, groupCol, scoreCol, tokenCol)) {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.na.drop(Seq(idCol, groupCol, scoreCol, tokenCol))
      .withColumn("cum_tokens", sum(col(tokenCol).cast("long")).over(w))
      .filter(col("cum_tokens") <= budget)
  } }

  /** [[tokenBudgetPerGroup]] with a DIFFERENT budget per group, read
    * from a plan table (groupCol, `token_budget`) — the composition that
    * turns a mixture plan (TextAnalysis.mixPlan / corpusMix shares ×
    * total budget) into an executed selection. The plan is
    * group-cardinality rows, so it broadcasts; the corpus pays the same
    * single group-keyed window shuffle as the fixed-budget form. Groups
    * absent from the plan are dropped (no budget = not in the mixture). */
  def tokenBudgetFromPlan(df: DataFrame, idCol: String, groupCol: String,
                          scoreCol: String, tokenCol: String,
                          plan: DataFrame): DataFrame = {
    require(plan.columns.contains("token_budget"),
      s"plan needs a token_budget column, has ${plan.columns.mkString(",")}")
    graft.util.Errors.context("tokenBudgetFromPlan",
        Seq(idCol, groupCol, scoreCol, tokenCol)) {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol).desc, col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    df.na.drop(Seq(idCol, groupCol, scoreCol, tokenCol))
      .withColumn("cum_tokens", sum(col(tokenCol).cast("long")).over(w))
      .join(broadcast(plan.na.drop(Seq(groupCol, "token_budget"))
        .select(col(groupCol), col("token_budget").cast("long"))),
        Seq(groupCol))
      .filter(col("cum_tokens") <= col("token_budget"))
      .drop("token_budget")
  } }

  /** Percent-rank normalization of a score within each group: quality
    * scores from different sources/classifiers are not on a comparable
    * scale — their PER-GROUP ranks are. Adds `score_pct` ∈ [0, 1]
    * (percent_rank over (score, id) — the id tie-break makes the order
    * total, so the output is deterministic and engine-reproducible),
    * after which a single global [[tokenBudgetSelect]] on `score_pct`
    * selects cross-source fairly. One group-keyed window shuffle. */
  def rankNormalize(df: DataFrame, idCol: String, groupCol: String,
                    scoreCol: String): DataFrame = {
    graft.util.Errors.context("rankNormalize", Seq(idCol, groupCol, scoreCol)) {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol))
      .orderBy(col(scoreCol), col(idCol))
    df.na.drop(Seq(idCol, groupCol, scoreCol))
      .withColumn("score_pct", percent_rank().over(w))
  } }

  def epochShuffle(df: DataFrame, idCol: String, epoch: Int,
                   numShards: Int, seed: Long = 0L): DataFrame = {
    require(numShards > 0, s"epochShuffle needs numShards > 0, got $numShards")
    graft.util.Errors.context("epochShuffle", Seq(idCol)) {
    // 60-bit md5 prefix: mod picks the shard, the FULL value orders
    // within it (rows of one shard agree mod numShards, so ordering by h
    // is ordering by h div numShards — no long division, which Spark
    // would route through double and lose bits past 2^52)
    val h = conv(substring(md5(concat(col(idCol).cast("string"), lit(":"),
      lit(epoch.toString), lit(":"), lit(seed.toString)).cast("binary")),
      1, 15), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__graft_shard")
      .orderBy(col("__graft_key"), col(idCol))
    df.na.drop(Seq(idCol))
      .withColumn("__graft_shard", pmod(h, lit(numShards.toLong)))
      .withColumn("__graft_key", h)
      .withColumn("pos", row_number().over(w).cast("long") - 1L)
      .withColumnRenamed("__graft_shard", "shard")
      .withColumnRenamed("__graft_key", "order_key")
  } }

  /** Kish effective sample size per group: ess = (Σw)²/Σw² — how many
    * EQUAL-weight rows the weighted set is statistically worth. The
    * health check for every weighted tier in the engine (DSIR importance
    * weights, temperature rebalancing, weightedSample priorities): an
    * ess_ratio (= ess/n) near 1 means weights are nearly uniform; near
    * 1/n means one row dominates and downstream estimates carry its
    * variance. ONE aggregation pass, output bounded by group count;
    * null/negative-weight rows are dropped (a weight of 0 contributes
    * nothing to either sum). */
  /** Deterministic IN-GROUP negative sampling for contrastive training
    * data: each row gets `k` pseudo-random partners from its OWN group
    * (its source/domain/shard — the "in-batch negatives" convention),
    * never itself, reproducibly. Partner j of a row at in-group rank r
    * (dense, ordered by id) is the row at rank
    * `(r + 1 + md5(seed:id:j) mod (n_g - 1)) mod n_g` — the offset lives
    * in [1, n_g-1], so self-pairing is impossible by construction, and
    * the draw replays in SQL. Groups of one row emit nothing. Output:
    * (groupCols..., id, j, neg_id).
    *
    * SCALE: two keyed windows (rank + group size) and one join back on
    * (group, rank) — everything shuffles on the GROUP key only; there is
    * no global rank and no global sort. Per-group row counts bound the
    * window partitions exactly as every other keyed-window op here. */
  def negativePairs(df: DataFrame, idCol: String, groupCols: Seq[String],
                    k: Int, seed: Long): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(groupCols.nonEmpty, "negativePairs needs group columns")
    graft.util.Errors.context("negativePairs", idCol +: groupCols) {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
    val ranked = df.na.drop(idCol +: groupCols)
      .select(groupCols.map(col) :+ col(idCol).cast("long").as("__id"): _*)
      .withColumn("__r", row_number().over(w.orderBy(col("__id"))) - lit(1))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__n") >= 2)
    val js = ranked.select(
      ranked.columns.map(col) :+ explode(sequence(lit(1), lit(k))).as("j"): _*)
    val h = conv(substring(md5(concat(lit(seed.toString), lit(":"),
        col("__id").cast("string"), lit(":"), col("j").cast("string"))
        .cast("binary")), 1, 15), 16, 10).cast("long")
    val partner = pmod(
      col("__r") + lit(1L) + pmod(h, col("__n") - lit(1L)), col("__n"))
    val picks = js.withColumn("__pr", partner)
    val lookup = ranked.select(
      groupCols.map(col) :+ col("__r").as("__pr") :+
        col("__id").as("neg_id"): _*)
    picks.join(lookup, groupCols :+ "__pr")
      .select(groupCols.map(col) :+ col("__id").as("id") :+ col("j") :+
        col("neg_id"): _*)
  } }

  def effectiveSampleSize(df: DataFrame, weightCol: String,
                          groupCols: String*): DataFrame = {
    graft.util.Errors.context("effectiveSampleSize", weightCol +: groupCols) {
    val w = col(weightCol).cast("double")
    val base = df.na.drop(weightCol +: groupCols)
      .filter(w >= 0.0)
    val aggs = Seq(count(lit(1)).as("n"), sum(w).as("sum_w"),
      (sum(w) * sum(w) / sum(w * w)).as("ess"),
      (sum(w) * sum(w) / sum(w * w) / count(lit(1))).as("ess_ratio"))
    if (groupCols.isEmpty) base.agg(aggs.head, aggs.tail: _*)
    else base.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  } }

  /** Rendezvous (highest-random-weight) shard assignment: each row goes
    * to `shard = argmax_s md5(seed:id:s)` — the STABLE sharding scheme:
    * when a shard is added or removed, only the rows whose argmax
    * changes move (~1/n of them), unlike `hash(id) % n` where nearly
    * everything reshuffles. Use it to route documents to index/model
    * shards that must survive resharding.
    *
    * Pure projection — the n md5 literal-salted hashes, the array max,
    * and the argmax position all fuse into whole-stage codegen; no
    * shuffle, no explode, nothing leaves the row. Cost is n md5 calls
    * per row, so `nShards` is capped at 1024 — beyond that use plain
    * hash-mod (stability amortizes away when shards are that fine).
    * Ties are md5 collisions (practically impossible); argmax takes the
    * first. Output: input columns + `shard` ∈ [0, nShards). */
  def rendezvousShard(df: DataFrame, idCol: String, nShards: Int,
                      seed: String = "graft"): DataFrame = {
    require(nShards >= 1 && nShards <= 1024,
      s"nShards must be in [1, 1024], got $nShards")
    require(!seed.contains(":"), s"seed must not contain ':': $seed")
    val hashes = array((0 until nShards).map(s =>
      md5(concat_ws(":", lit(seed), col(idCol).cast("string"),
        lit(s.toString)))): _*)
    df.withColumn("shard",
      (array_position(hashes, array_max(hashes)) - 1).cast("int"))
  }
}
