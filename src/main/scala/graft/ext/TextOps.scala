package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate,
  GlobalLimit, HintInfo, Join, LocalRelation, LogicalPlan,
  RepartitionOperation, Sort, Union, Window => LogicalWindow}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelationWithTable}
import org.apache.spark.sql.functions._

/** Text-analysis operators for the large-scale training-data pipeline
  * surface (brief §ext): tokenization, token statistics, heuristic
  * language-ID, quality scoring, document fingerprinting. All pure
  * `Column` combinators — codegen'd, no UDFs, no collects — so they
  * run unchanged over 100 TB of documents: every op is a narrow
  * projection except the explicit groupBys, which aggregate partially
  * map-side.
  *
  * Hashing policy: md5 (identical across Spark and DuckDB) drives
  * every fingerprint; hex→int goes through the first 15 hex chars
  * (< 2^60, fits a signed long in both engines).
  */
object TextOps {

  /** Corpus documents are single-space separated (verified: no
    * leading/trailing/double whitespace in the fixture corpus), so a
    * literal-space split is exact and locale-free. */
  def tokens(text: Column): Column = split(text, " ")

  /** The one spread rule: round-robin `df` into the session's
    * `defaultParallelism` partitions iff it is not streaming, is not
    * checkpoint-rooted ([[checkpointRooted]]), and is estimated to run
    * in fewer partitions than that ([[estPartitions]]). It targets the
    * unsplittable small input (single-row-group parquet, a gzip
    * member, one small file, a local relation) feeding a CPU-bound
    * per-row stage: the shuffle moves the RAW rows once, upstream of
    * the expensive projection, so that stage uses every core instead
    * of one (measured 4-5× on the trigram passes: one task exploding
    * 1.5M rows vs 32). At corpus scale scans split into >= parallelism
    * partitions and the rule is a no-op. Every consumer is
    * partitioning-invariant by construction (spec-pinned), so values
    * never depend on the decision.
    *
    * Precondition, shared with [[graft.catalyst.SinglePartitionScan]]:
    * a checkpoint is batch-sized (one input split or one AQE-coalesced
    * partition of a batch), so its downstream pass stays in its own
    * partitions, single- or multi-pass consumer alike — re-spreading
    * such a checkpoint was measured net-negative (+1 s over
    * q_incr_release). A checkpoint of corpus-sized data keeps its wide
    * upstream partitioning and needs no spread either.
    *
    * The decision reads the LOGICAL plan only: `df.rdd.getNumPartitions`
    * pays ~0.35 s of physical planning + codegen per probe (6.8-7.7 s
    * inside one q_incr_release run, r15 §1). */
  private[ext] def rebalance(df: DataFrame): DataFrame = {
    if (df.isStreaming) return df // micro-batches size themselves
    val p = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    if (checkpointRooted(plan) ||
        estPartitions(plan, df.sparkSession).forall(_ >= p)) df
    else df.repartition(p)
  }

  /** True iff `df` runs as ONE partition because it is a narrow chain
    * over a one-partition checkpoint — the input
    * [[graft.catalyst.SinglePartitionScan]] plans as `SinglePartition`,
    * which already satisfies every downstream distribution. */
  private[ext] def onOnePartitionCheckpoint(df: DataFrame): Boolean =
    !df.isStreaming && {
      val plan = df.queryExecution.optimizedPlan
      checkpointRooted(plan) && estPartitions(plan, df.sparkSession).contains(1)
    }

  /** Every leaf a `LogicalRDD` (a checkpoint). */
  private def checkpointRooted(plan: LogicalPlan): Boolean = {
    val leaves = plan.collectLeaves()
    leaves.nonEmpty && leaves.forall(_.isInstanceOf[LogicalRDD])
  }

  /** How many partitions a frame will execute with, from the LOGICAL
    * plan, or None for a WIDE frame that is never spread. Leaves read
    * their real layout: a checkpoint its RDD's partition count (free),
    * a local relation min(rows, parallelism), a file scan the
    * scan-split formula. Narrow nodes inherit their child, `Union`
    * sums its children, a join with one side under the broadcast
    * threshold (or hinted) inherits the streamed side. Everything else
    * is wide: aggregates, windows, distincts, repartitions, global
    * sorts, limits, non-broadcast joins and unknown leaves. A shuffle
    * output is already shuffle-wide, so re-spreading it only adds an
    * Exchange (the r15 33-query regression cluster). */
  private def estPartitions(plan0: LogicalPlan,
                            spark: SparkSession): Option[Int] = {
    val conf = spark.sessionState.conf
    val p = math.max(1, spark.sparkContext.defaultParallelism)
    def broadcastable(side: LogicalPlan, hint: Option[HintInfo]): Boolean =
      hint.exists(_.strategy.exists(_.toString.toLowerCase.contains("broadcast"))) ||
        (conf.autoBroadcastJoinThreshold >= 0 &&
          side.stats.sizeInBytes <= BigInt(conf.autoBroadcastJoinThreshold))
    def est(plan: LogicalPlan): Option[Int] = plan match {
      case r: LogicalRDD => Some(r.rdd.getNumPartitions)
      case l: LocalRelation => Some(math.max(1, math.min(l.data.length, p)))
      case LogicalRelationWithTable(fs: HadoopFsRelation, _) =>
        // FilePartition.maxSplitBytes, minus per-file open costs — an
        // over-estimate of split size, i.e. an under-estimate of
        // partitions, which errs toward spreading small scans
        val total = math.max(1L, fs.location.sizeInBytes)
        val minPart = conf.filesMinPartitionNum.getOrElse(p)
        val maxSplit = math.max(1L,
          math.min(conf.filesMaxPartitionBytes,
            math.max(conf.filesOpenCostInBytes,
              total / math.max(1, minPart))))
        Some(math.min(Int.MaxValue.toLong,
          (total + maxSplit - 1) / maxSplit).toInt)
      case _: Aggregate | _: LogicalWindow | _: Deduplicate |
           _: RepartitionOperation | _: GlobalLimit => None
      case s: Sort if s.global => None
      case j: Join if broadcastable(j.right, j.hint.rightHint) => est(j.left)
      case j: Join if broadcastable(j.left, j.hint.leftHint) => est(j.right)
      case u: Union => u.children.map(est).foldLeft(Option(0)) {
        case (Some(a), Some(b)) => Some(a + b)
        case _ => None
      }
      case o if o.children.size == 1 => est(o.children.head)
      case _ => None
    }
    est(plan0)
  }

  /** First 15 hex chars of md5 as a non-negative long. */
  def hex15(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  private val FpMod = 1000003L

  def tokenHash(tok: Column): Column = hex15(tok) % FpMod

  /** Word n-gram shingles (space-joined). Empty array when the doc has
    * fewer than n tokens — `sequence(0, size-n)` would otherwise count
    * DOWN and fabricate shingles. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n), i =>
        concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
      .otherwise(array().cast("array<string>"))

  /** Distinct word n-gram shingle SET as a per-document array, in one
    * pass: the token array is bound as a LAMBDA VARIABLE (a transform
    * over a one-element wrapper array), so the tokenizing split runs
    * once per document even after CollapseProject inlines this column
    * into downstream expressions — [[wordShingles]] references its
    * `toks` argument ~n+2 times, which over a raw `split(...)` would
    * re-run the split per reference per element (the lambda-CSE trap:
    * no subexpression elimination across lambda boundaries). */
  def wordShingleSet(text: Column, n: Int): Column =
    element_at(transform(array(tokens(text)),
      w => array_distinct(wordShingles(w, n))), 1)

  /** Character n-gram shingles. */
  def charShingles(text: Column, n: Int): Column =
    when(length(text) >= n,
      transform(sequence(lit(0), length(text) - n), i =>
        substr(text, i + 1, lit(n))))
      .otherwise(array().cast("array<string>"))

  /** Token statistics per document: token count, distinct count, and
    * average token length derived from char count (single-space
    * separation makes `chars - (tokens-1)` the exact glyph total). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tokenize once into a real column; referencing split(...) from
    // several output expressions would re-run the split per expression
    val toks = col("__toks")
    df.select(col(idCol), length(col(textCol)).as("n_chars"),
        tokens(col(textCol)).as("__toks"))
      .select(
        col(idCol),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("n_distinct_tokens"),
        col("n_chars"),
        ((col("n_chars") - (size(toks) - lit(1))).cast("double") / size(toks))
          .as("avg_token_len"))
  }

  /** Text normalization for dedup/tokenization robustness: lowercase,
    * strip everything outside [a-z0-9 ], collapse whitespace runs,
    * trim. Simple character classes only — identical semantics in
    * Java regex (Spark) and RE2 (DuckDB). */
  def normalize(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), " +", " "))

  /** Tiny function-word inventory for the heuristic language scorer;
    * ratio-of-stopwords is the classic cheap LID signal. */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "data")

  def stopwordRatio(toks: Column): Column = {
    val stops = filter(toks, t => t.isin(stopwords.map(lit): _*))
    size(stops).cast("double") / size(toks)
  }

  /** Heuristic language ID + quality score (length and stopword
    * signals, both bounded to [0,1]; fixed multiply-add order keeps
    * the double result bit-stable across engines). */
  def langQuality(df: DataFrame, idCol: String, textCol: String,
                  langCol: String): DataFrame = {
    val toks = col("__toks")
    val ratio = col("__ratio")
    val quality = least(lit(1.0), size(toks).cast("double") / lit(100.0)) * lit(0.5) +
      ratio * lit(0.5)
    df.select(col(idCol), col(langCol).as("lang"), tokens(col(textCol)).as("__toks"))
      .withColumn("__ratio", stopwordRatio(toks))
      .select(
        col(idCol), col("lang"),
        when(ratio >= 0.05, "en_like").otherwise("other").as("heur_lang"),
        size(toks).as("n_tokens"),
        ratio.as("stop_ratio"),
        quality.as("quality"))
  }

  /** Intra-document repetition statistics (the Gopher-rules family):
    * duplicate-token and duplicate-2-gram fractions per document. High
    * values mark boilerplate/spam — the repetition filter every
    * large-scale corpus pass applies before training. Pure projection
    * (array ops on the row), no explode, no shuffle. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = col("__toks")
    val grams = col("__grams")
    def dupFrac(arr: Column): Column =
      when(size(arr) > 0,
        (size(arr) - size(array_distinct(arr))).cast("double") / size(arr))
        .otherwise(lit(0.0))
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__grams", wordShingles(toks, 2))
      .select(col(idCol),
        size(toks).as("n_tokens"),
        dupFrac(toks).as("dup_token_frac"),
        size(grams).as("n_2grams"),
        dupFrac(grams).as("dup_2gram_frac"))
  }

  /** Line-level boilerplate removal (the C4/RefinedWeb-family cross-
    * document dedup): a LINE that appears in more than `maxDocs`
    * distinct documents is boilerplate (nav text, cookie banners,
    * copyright footers) and is dropped from every document; the rest
    * of each document is reassembled in original line order.
    *
    * Scale shape: explode lines → one count-distinct-docs agg per
    * line (two hash aggs: (line, doc) dedup then count — both
    * map-side combinable and keyed by line, never all-pairs) → an
    * anti-join of the line rows against the hot set → one sort-free
    * reassembly agg per doc (collect + array_sort by position, which
    * orders within each doc's group only). Every shuffle key is a
    * line hash or doc id; nothing global.
    *
    * Returns (id, clean_text, n_kept, n_dropped). */
  def removeBoilerplateLines(df: DataFrame, idCol: String, textCol: String,
                             maxDocs: Long): DataFrame = {
    // the per-doc line total rides the exploded rows (first() in the
    // reassembly agg) instead of a second scan + join back to df
    val lines = df
      .select(col(idCol), size(split(col(textCol), "\n")).as("__total"),
        posexplode(split(col(textCol), "\n")).as(Seq("__pos", "__line")))
    val hot = lines.select(col(idCol), col("__line")).distinct()
      .groupBy("__line").agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > maxDocs)
      .select("__line")
    lines.join(hot, Seq("__line"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
            s => s.getField("__line")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"),
        first(col("__total")).as("__t"))
      .withColumn("n_dropped", col("__t") - col("n_kept"))
      .drop("__t")
  }

  /** Gopher-style quality gate: the classic per-document rule flags —
    * token-count bounds, mean-word-length bounds, minimum fraction of
    * alphabetic words, minimum stop-word hits — plus the conjunction.
    * Each flag is a cheap column predicate; the gate is a projection
    * that composes with any downstream filter, so at 100 TB it rides
    * the scan (no separate pass). Thresholds follow the published
    * Gopher ranges except the token floor, scaled to the fixture's
    * short documents. */
  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 10, maxTokens: Int = 100000,
                    minMeanWordLen: Double = 3.0, maxMeanWordLen: Double = 10.0,
                    minAlphaFrac: Double = 0.8, minStopHits: Int = 2): DataFrame = {
    val toks = col("__toks")
    val meanLen = (col("__chars") - (size(toks) - lit(1))).cast("double") / size(toks)
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
      size(toks)
    val stopHits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    df.select(col(idCol), length(col(textCol)).as("__chars"),
        tokens(col(textCol)).as("__toks"))
      .select(col(idCol),
        size(toks).as("n_tokens"),
        meanLen.as("mean_word_len"),
        alphaFrac.as("alpha_frac"),
        stopHits.as("stop_hits"),
        size(toks).between(minTokens, maxTokens).as("flag_tokens"),
        meanLen.between(minMeanWordLen, maxMeanWordLen).as("flag_word_len"),
        (alphaFrac >= minAlphaFrac).as("flag_alpha"),
        (stopHits >= minStopHits).as("flag_stop"))
      .withColumn("pass",
        col("flag_tokens") && col("flag_word_len") &&
          col("flag_alpha") && col("flag_stop"))
  }

  /** BPE-ish pre-tokenizer pattern — the GPT-2 family shape
    * (contractions, space-prefixed letter runs, digit runs,
    * punctuation runs, residual whitespace), but lookahead-free so
    * Java regex (Spark) and RE2 (DuckDB) agree match-for-match. This
    * is the split a byte-pair tokenizer applies BEFORE merges, so
    * counting pretokens is the cheap upper-bound token estimate a
    * corpus-sizing pass wants; a whitespace count undercounts docs
    * heavy in digits/punctuation. */
  val bpePretokenPattern: String =
    "'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+| +"

  def bpePretokens(text: Column): Column =
    regexp_extract_all(text, lit(bpePretokenPattern), lit(0))

  /** Per-document token-count estimates: whitespace tokens vs BPE-ish
    * pretokens, plus chars-per-pretoken (the compression-ratio-like
    * signal corpus reports use). Pure projection — one regex pass per
    * document, no explode, no shuffle. */
  def bpeTokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pt = col("__pt")
    df.select(col(idCol), length(col(textCol)).as("__chars"),
        size(tokens(col(textCol))).as("n_ws_tokens"),
        bpePretokens(col(textCol)).as("__pt"))
      .select(col(idCol), col("n_ws_tokens"),
        size(pt).as("n_pretokens"),
        size(array_distinct(pt)).as("n_distinct_pretokens"),
        (col("__chars").cast("double") / size(pt)).as("chars_per_pretoken"))
  }

  /** Real-BPE token statistics: pretokenize, then run the
    * [[graft.catalyst.BpeEncode]] merge loop (fixed ranked merge
    * table, GPT-2-style leading-space symbols) over every pretoken.
    * `n_tokens` is the true post-merge count a corpus-sizing pass
    * wants — `n_pretokens` bounds it from above — and `encoded_head`
    * pins the first 12 merged symbols so the oracle checks the actual
    * encoding, not just a count. Pure projection: the merge loop runs
    * where the row lives, no explode, no shuffle; the per-pretoken
    * lambda is re-evaluated per referencing expression (lambda
    * expressions are outside Spark's subexpression elimination), which
    * costs a bounded constant factor, not a scale hazard. */
  def bpeMergeStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.catalyst.BpeEncode.register(df.sparkSession)
    val syms = col("__syms")
    df.select(col(idCol), bpePretokens(col(textCol)).as("__pt"))
      .select(col(idCol), size(col("__pt")).as("n_pretokens"),
        flatten(transform(col("__pt"),
          t => call_function("bpe_encode", t))).as("__syms"))
      .select(col(idCol), col("n_pretokens"),
        size(syms).as("n_tokens"),
        array_join(slice(syms, 1, 12), "|").as("encoded_head"))
  }

  /** TF-IDF top-k terms per document. The "idf" kept here is the
    * smooth RATIO (N+1)/(df+1) rather than its logarithm: log is
    * monotone so per-document term RANKING is identical, while the
    * ratio stays in exact integer-derived double arithmetic (ln() is
    * libm-implementation-defined in its last ulp, which would make
    * scores engine-dependent).
    *
    * Scale shape: two hash aggregations (per-(doc,term) counts, then
    * per-term doc frequency — both map-side combinable), a join on the
    * term (vocabulary is tiny next to the corpus; Spark broadcasts it
    * when below the threshold), the corpus size as an in-plan
    * single-row broadcast (no collect), and a per-document ranking
    * window bounded by each document's distinct-term count. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    // tf rows are one per (doc, term), so counting them per term IS
    // the document frequency — no extra distinct pass
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = broadcast(df.groupBy().agg(count(lit(1)).as("__n")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, Seq("term")).crossJoin(n)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") * (col("__n") + 1).cast("double")
          / (col("df") + 1).cast("double")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** PII-shaped redaction: emails, URLs, and long digit runs replaced
    * by typed placeholder tags — the scrub step a training corpus gets
    * before tokenization. Patterns use only character classes and
    * bounded repetition, identical under Java regex and RE2; applied
    * longest-structure-first (URL before email before number) so a
    * URL's digits never get partially rewritten by the number rule. */
  val urlPattern = "https?://[^ ]+"
  val emailPattern = "[a-zA-Z0-9._]+@[a-zA-Z0-9.]+"
  val numberPattern = "[0-9]{4,}"

  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, urlPattern, "<URL>"),
        emailPattern, "<EMAIL>"),
      numberPattern, "<NUM>")

  /** Positional document fingerprint: Σ position·hash(token) mod p.
    * Pure integer arithmetic — order-independent addition, exact in
    * any engine, and position-sensitive unlike a bag-of-words sum. */
  def fingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), posexplode(tokens(col(textCol))).as(Seq("__pos", "__tok")))
      .select(col(idCol),
        ((col("__pos") + 1) * tokenHash(col("__tok"))).as("__contrib"))
      .groupBy(idCol)
      .agg((sum(col("__contrib")) % FpMod).as("fingerprint"))

  /** Sequence PACKING — the pre-training batching step that concats
    * documents into fixed token-budget sequences: docs are laid out in
    * a deterministic order (`idCol` ascending) within each `groupCol`
    * stream, and a doc joins the pack its cumulative token offset
    * falls into (`pack_id = floor(cum_before / budget)`). Contiguous
    * first-fit, not bin-packing: deterministic, ONE window pass, one
    * shuffle keyed on the group — no driver-side loop, so it scales as
    * a plain partitioned scan. A doc longer than the remaining budget
    * overflows its pack (standard practice truncates or splits
    * downstream); `pack_pos` gives the concat order inside the pack.
    * Output: (id, group, n_tokens, pack_id, pack_pos). */
  def seqPack(df: DataFrame, idCol: String, textCol: String,
              groupCol: String, budgetTokens: Int): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col(idCol))
    val withTok = df.select(col(idCol), col(groupCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    val packed = withTok
      .withColumn("__cum_before",
        coalesce(sum(col("n_tokens")).over(w.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
          lit(0L)))
      .withColumn("pack_id", floor(col("__cum_before") / budgetTokens))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("pack_id")).orderBy(col(idCol))
    packed
      .withColumn("pack_pos", row_number().over(wp).cast("long"))
      .select(col(idCol), col(groupCol), col("n_tokens"),
        col("pack_id"), col("pack_pos"))
  }

  /** Corpus-derived vocabulary coverage — the reference-vocabulary
    * quality filter (the CCNet-family idea of scoring documents
    * against a reference corpus' token distribution, with the
    * log-probability replaced by an exact set-coverage ratio: ln is
    * not correctly-rounded and would break bit-parity with the
    * oracle). The reference vocabulary is the corpus' own top-R
    * tokens by frequency (ties by token, ascending — fully
    * deterministic); each document scores the fraction of its token
    * OCCURRENCES covered by that vocabulary. Noisy/OCR'd/off-language
    * documents sit in the low tail.
    *
    * Scale shape: one explode + map-side-combinable (token) count to
    * build the frequency table; the top-R selection is
    * TakeOrderedAndProject (per-partition R-heap, no full sort — R is
    * small by construction); the scoring pass is one explode + a
    * broadcast LEFT SEMI-shaped membership join on the R-row vocab +
    * one (doc) re-agg. The corpus is scanned twice and never
    * all-pairs'd; at 100 TB the vocab build can run on a sample
    * without changing the scoring shape. */
  /** Cross-document duplicate n-gram span statistics — the exact
    * substring-dedup signal (the "dedup training data at the
    * substring level" family): an n-gram OCCURRENCE is duplicated
    * when the same n-gram appears in at least `minDocs` DISTINCT
    * documents; per document we report how much of it is built from
    * such corpus-repeated material, and the longest consecutive run
    * of duplicated n-gram starts (the span a substring-dedup pass
    * would cut). Boilerplate, licenses, and template text light up
    * with dup_frac near 1 and long runs; original prose sits near 0.
    *
    * Scale shape: one explode to (doc, pos, gram-hash) — the gram is
    * built by an in-array lookahead (no self-join) over a
    * LAMBDA-BOUND token array (the [[wordShingleSet]] trick: a raw
    * `split` referenced n+2 times inside the lambda would re-run per
    * reference per element — the lambda-CSE trap) and immediately
    * collapsed to its 60-bit md5 key, so every downstream
    * distinct/count/join shuffles 8-byte longs instead of ~30-byte
    * strings; the oracle derives the SAME key, so a hash collision —
    * ~10⁻⁵ odds at 50M distinct grams — would be consistent across
    * engines, never a parity break. N-gram doc-frequency is a
    * distinct + map-side-combinable count keyed by the hash; the flag
    * join is a key-shuffle join on it (the standard biggest shape
    * here — at 100 TB the gram table is huge but hash-partitioned,
    * never broadcast). Stats AND run detection come out of ONE
    * consumption of the flag join via a single per-doc window pass:
    * the island id is the running count of non-duplicated positions,
    * so consecutive duplicated positions share an island; per-island
    * dup counts are run lengths, and the two stacked groupBys reuse
    * the window's doc-key partitioning (no further exchange). Docs
    * shorter than n tokens have no n-grams and drop out — same rule
    * in the oracle.
    *
    * Count arithmetic stays in longs: doc frequencies and positions
    * are per-gram/per-doc counts, far under 2^63 at any corpus size.
    */
  def dupNgramSpans(rawDf: DataFrame, idCol: String, textCol: String,
                    n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 2 && minDocs >= 2)
    val df = rebalance(rawDf)
    val grams = element_at(transform(array(tokens(col(textCol))), t =>
      transform(slice(t, lit(1), greatest(size(t) - (n - 1), lit(0))),
        (x, i) => struct((i + lit(1)).cast("long").as("pos"),
          hex15(concat_ws(" ",
            (0 until n).map(j => element_at(t, i + lit(j + 1))): _*))
            .as("gh")))), 1)
    val pos = df.select(col(idCol), explode(grams).as("g"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.gh").as("gh"))
    val dupGrams = pos.select(col(idCol), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("gh"), lit(1).as("__dup"))
    val flagged = pos.join(dupGrams, Seq("gh"), "left")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    flagged
      .withColumn("__isl",
        sum(when(col("__dup").isNull, 1L).otherwise(0L)).over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(count(lit(1)).as("__n"),
        sum(coalesce(col("__dup"), lit(0))).cast("long").as("__nd"))
      .groupBy(col(idCol))
      .agg(sum(col("__n")).cast("long").as("n_grams"),
        sum(col("__nd")).cast("long").as("n_dup"),
        max(col("__nd")).as("max_dup_run"))
      .select(col(idCol), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"),
        col("max_dup_run"))
  }

  /** Per-source token-distribution divergence from the whole corpus —
    * the domain-mix drift report (is a source's unigram distribution
    * close to the corpus mix it contributes to?). Distance is total
    * variation, TV(s) = ½·Σ_t |p_s(t) − p(t)|, kept bit-reproducible
    * by integer arithmetic: the summand is |n_s(t)·N − n(t)·N_s| — an
    * exact long — and longs sum ASSOCIATIVELY, so the aggregate is
    * partitioning-invariant where a float sum would not be; a single
    * fixed-order double chain converts to the final score. Tokens the
    * source never uses contribute n(t)·N_s each; their sum is derived
    * in closed form as (N − Σ_{t∈s} n(t))·N_s instead of
    * materializing the absent (source, token) pairs.
    *
    * Scale shape: one explode into a (source, token) count — map-side
    * combinable — the global token table re-aggregates FROM it
    * (second small shuffle, no second corpus scan), one key-shuffle
    * join on token, broadcast 1-row totals. Long products bound the
    * corpus at ~2^31 tokens per side before overflow; past that the
    * same query runs with decimal(38,0) casts (the corr-moment
    * pattern) at ~2× agg cost. */
  def sourceDivergence(df: DataFrame, srcCol: String, textCol: String)
      : DataFrame = {
    val st = df.select(col(srcCol).as("source"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("n_st"))
    val tot = st.groupBy("tok").agg(sum(col("n_st")).as("n_t"))
    val ns = st.groupBy("source").agg(sum(col("n_st")).as("n_s"))
    val nAll = broadcast(tot.agg(sum(col("n_t")).as("n_all")))
    st.join(tot, Seq("tok"))
      .join(ns, Seq("source")).crossJoin(nAll)
      .groupBy(col("source"))
      .agg(first(col("n_s")).as("n_tokens"),
        first(col("n_all")).as("__n"),
        sum(abs(col("n_st") * col("n_all") - col("n_t") * col("n_s")))
          .as("__present"),
        sum(col("n_t")).as("__seen"))
      .select(col("source"), col("n_tokens"),
        ((col("__present")
            + (col("__n") - col("__seen")) * col("n_tokens")).cast("double")
          / lit(2.0) / col("n_tokens").cast("double")
          / col("__n").cast("double")).as("tv"))
  }

  /** PMI bigram collocations — corpus-level phrase mining (the
    * classic pointwise-mutual-information collocation score, kept in
    * lift form: p(ab) / (p(a)·p(b)) without the final log, because ln
    * is not correctly-rounded across engines and the log is monotone —
    * rankings are identical). Every arithmetic step is a fixed
    * left-to-right chain of IEEE-double multiplies/divides over exact
    * integer counts, so the DuckDB oracle reproduces scores
    * bit-for-bit: lift = n_ab · Nu · Nu / Nb / n_a / n_b (Nu = total
    * token occurrences, Nb = total bigrams). Squaring Nu FIRST would
    * overflow long at web scale; the double chain never materializes
    * Nu².
    *
    * Scale shape: one explode + map-side-combinable count for
    * unigrams, one in-array zip + explode + count for bigrams (no
    * self-join to form pairs), two key-shuffle joins of the bigram
    * table against the unigram table, broadcast 1-row totals, then
    * TakeOrderedAndProject for the top-k (per-partition k-heap, no
    * full sort). `minCount` keeps the rare-bigram noise floor out of
    * the ranking — the standard PMI low-frequency pathology. Ties at
    * equal lift break by (w1, w2) ascending so the k-boundary is
    * deterministic in both engines. */
  def pmiCollocations(rawDf: DataFrame, textCol: String,
                      minCount: Int = 5, topK: Int = 100): DataFrame = {
    require(minCount >= 1 && topK >= 1)
    val df = rebalance(rawDf)
    val t = tokens(col(textCol))
    val uni = df.select(explode(t).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
    val nu = uni.agg(sum(col("n")).as("nu"))
    // adjacent pairs via an in-array transform: element i of the
    // size-1 prefix zips with element i+1 of the full array
    val bigrams = transform(slice(t, lit(1), size(t) - 1),
      (x, i) => struct(x.as("w1"), element_at(t, i + lit(2)).as("w2")))
    val bg = df.select(explode(bigrams).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("n_ab"))
    val nb = bg.agg(sum(col("n_ab")).as("nb"))
    bg.filter(col("n_ab") >= minCount)
      .join(uni.select(col("tok").as("w1"), col("n").as("n_a")), Seq("w1"))
      .join(uni.select(col("tok").as("w2"), col("n").as("n_b")), Seq("w2"))
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("w1"), col("w2"), col("n_ab"),
        (col("n_ab").cast("double") * col("nu").cast("double")
          * col("nu").cast("double") / col("nb").cast("double")
          / col("n_a").cast("double") / col("n_b").cast("double"))
          .as("lift"))
      .orderBy(col("lift").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Fixed-token-window document chunking with overlap — the
    * context-length prep step that turns variable-length documents
    * into model-window-sized training pieces (each chunk carries
    * `overlap` trailing tokens of its predecessor so no span is ever
    * split across a window boundary without context).
    *
    * Chunk starts are `1, 1+stride, …` (stride = chunkSize − overlap)
    * capped at `max(1, n − overlap)`: the cap guarantees every
    * emitted chunk contributes at least one NEW token, so a document
    * whose tail would produce a chunk fully contained in its
    * predecessor emits no such degenerate chunk (n=8, chunkSize=8,
    * overlap=2 → starts [1], not [1,7]). The final chunk may be
    * shorter than `chunkSize` (slice caps at the document end);
    * standard practice pads or drops short tails downstream — policy
    * stays with the caller.
    *
    * Scale shape: one tokenize + one explode over the per-doc start
    * sequence — a pure narrow projection, no shuffle, no state; at
    * 100 TB it streams through the scan partition-parallel, and the
    * output inherits the input's partitioning (chunks of a doc stay
    * in its partition — exactly what a downstream pack/shuffle-write
    * wants). The token array is bound once per row ([[wordShingles]]'
    * lambda-CSE rule: a raw `split` referenced by both the sequence
    * bound and the slice would re-run the regex per reference). */
  def chunkDocs(df: DataFrame, idCol: String, textCol: String,
                chunkSize: Int, overlap: Int = 0): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(1),
          greatest(lit(1), size(col("__toks")) - overlap),
          lit(stride))).as("start_tok"))
      .select(col(idCol),
        ((col("start_tok") - 1) / stride).cast("long").as("chunk_id"),
        col("start_tok").cast("long").as("start_tok"),
        size(slice(col("__toks"), col("start_tok"), lit(chunkSize)))
          .cast("long").as("n_tokens"),
        array_join(slice(col("__toks"), col("start_tok"), lit(chunkSize)), " ")
          .as("chunk_text"))
  }

  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    topR: Int = 64): DataFrame = {
    require(topR >= 1, s"vocabulary size must be >= 1, got $topR")
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val vocab = broadcast(
      toks.groupBy("tok").agg(count(lit(1)).as("__n"))
        .orderBy(col("__n").desc, col("tok").asc)
        .limit(topR)
        .select(col("tok"), lit(1).as("__in_vocab")))
    toks.join(vocab, Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__in_vocab"), lit(0))).cast("long").as("n_covered"))
      .select(col(idCol), col("n_tokens"), col("n_covered"),
        (col("n_covered").cast("double") / col("n_tokens").cast("double"))
          .as("coverage"))
  }

  /** Unigram language-model surprisal scoring (the CCNet-family
    * perplexity quality filter, in engine-portable integer form):
    * train an add-one-smoothed unigram LM on the corpus itself, then
    * score every document by total quantized surprisal. A token with
    * corpus count c has -log2 p(tok) = log2(N+V) - log2(c+1); this
    * operator quantizes each term through the integer bit length
    * (`length(bin(x))` = floor(log2 x)+1 — exact and identical in
    * Spark and DuckDB, where a float `ln` is correctly-rounded in
    * NEITHER and hash-breaks the oracle), so `surprisal_bits` is the
    * doc's total surprisal in whole bits. High bits/token = rare-token
    * soup (OCR noise, boilerplate hashes, off-language); low = common-
    * token spam. `n_singletons` (corpus-hapax positions) and
    * `sum_count` (total commonness) expose the tails the quantization
    * flattens. Per-token averages stay with the reader — integer
    * policy, same as the recall audits.
    *
    * Scale shape: the unigram table is corpus-sized, so the score
    * join is a key shuffle on the token (NOT a broadcast — at 100 TB
    * the vocabulary does not fit a driver), followed by one map-side
    * combinable doc-keyed agg; the (N, V) totals collapse to one
    * broadcast row. Everything else is projection. */
  def lmSurprisal(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val (uni, tot) = lmModel(df, textCol)
    lmSurprisalWith(df, idCol, textCol, uni, tot)
  }

  /** The trained unigram LM of [[lmSurprisal]] as a frame pair:
    * (tok, __c) token counts + the one-row (__n, __v) totals — the
    * persistable model state, so a FROZEN release model can score
    * tomorrow's batch ([[lmSurprisalWith]]) without retraining. */
  def lmModel(df: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val uni = df.select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("__c"))
    val tot = uni.agg(sum("__c").as("__n"), count(lit(1)).as("__v"))
    (uni, tot)
  }

  /** [[lmSurprisal]]'s scoring stage under an EXPLICIT model — the
    * add-one-smoothed unigram chain with the unseen-token path made
    * explicit: a token outside the model's vocabulary smooths to
    * count 0+1 under the model's own (N + V) mass (the same left-join
    * convention as [[dsirWeights]]' target LM). With the model
    * trained on `df` itself this is bit-identical to the inner-join
    * form (no token is unseen), so [[lmSurprisal]] routes through
    * here — spec- and oracle-pinned unchanged. */
  def lmSurprisalWith(df: DataFrame, idCol: String, textCol: String,
                      uni: DataFrame, tot: DataFrame): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    def bits(x: Column): Column = length(bin(x))
    val c = coalesce(col("__c"), lit(0L))
    toks.join(uni, Seq("tok"), "left").crossJoin(broadcast(tot))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(bits(col("__n") + col("__v")) - bits(c + 1))
          .cast("long").as("surprisal_bits"),
        sum(when(c === 1, 1L).otherwise(0L)).as("n_singletons"),
        sum(c).cast("long").as("sum_count"))
  }

  /** DSIR-style importance weighting (Xie et al., "Data Selection
    * for Language Models via Importance Resampling", NeurIPS 2023),
    * reduced to the same deterministic integer core as
    * [[lmSurprisal]]: every corpus document scores under TWO add-one-
    * smoothed unigram LMs — one fit on a small target-domain sample,
    * one on the full corpus — and the importance signal is the
    * log-likelihood ratio log p_target(doc) − log p_corpus(doc),
    * expressed as `weight_bits = bits_corpus − bits_target` with each
    * token's surprisal quantized through the integer bit length
    * (exact in both engines; a float `ln` is correctly rounded in
    * neither). Positive weight = the doc looks more target-like than
    * corpus-average at integer-bit resolution; `selected` is that
    * threshold, the resampling step's deterministic skeleton (the
    * published method samples ∝ weight; a reproducible pipeline wants
    * the rank/threshold form).
    *
    * Tokens outside the target vocabulary smooth to count 0+1 under
    * the target LM's own (N_t + V_t) mass — the unseen-token path the
    * left join makes explicit.
    *
    * Scale shape: both LM joins ride the TOKEN key (one corpus
    * explode reused for both), not a vocabulary broadcast — a 100 TB
    * corpus vocabulary fits no driver; the target LM count frame is
    * typically small enough that AQE broadcasts it on its own. One
    * per-doc agg closes. */
  def dsirWeights(corpus: DataFrame, target: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val toks = corpus.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
    val ttoks = target.select(explode(tokens(col(textCol))).as("tok"))
    val cu = toks.groupBy("tok").agg(count(lit(1)).as("__cr"))
    val ct = ttoks.groupBy("tok").agg(count(lit(1)).as("__ct"))
    val totc = broadcast(cu.agg(sum("__cr").as("__nr"), count(lit(1)).as("__vr")))
    val tott = broadcast(ct.agg(sum("__ct").as("__nt"), count(lit(1)).as("__vt")))
    def bits(x: Column): Column = length(bin(x))
    toks.join(cu, "tok").join(ct, Seq("tok"), "left")
      .crossJoin(totc).crossJoin(tott)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(bits(col("__nt") + col("__vt"))
          - bits(coalesce(col("__ct"), lit(0L)) + 1))
          .cast("long").as("bits_target"),
        sum(bits(col("__nr") + col("__vr")) - bits(col("__cr") + 1))
          .cast("long").as("bits_corpus"))
      .select(col(idCol), col("n_tokens"), col("bits_target"),
        col("bits_corpus"),
        (col("bits_corpus") - col("bits_target")).as("weight_bits"),
        (col("bits_corpus") > col("bits_target")).as("selected"))
  }

  /** Character-trigram profile language identification (the
    * textcat/CLD family, reduced to its deterministic core): build a
    * top-`topR` trigram profile per labeled language from the corpus
    * itself, then classify every document by profile overlap —
    * predicted language = argmax over languages of |distinct doc
    * trigrams ∩ language profile|, ties to the lexicographically
    * smallest language. Returns one row per document: `(id, lang,
    * pred_lang, overlap)` — the confusion-matrix reduction is the
    * caller's (one tiny groupBy).
    *
    * Everything is integer counts and string ordering — no floats —
    * so the result is engine-exact. Profile rank ties break by
    * trigram ascending; the per-doc argmax uses a strict-greater
    * left-to-right fold over languages sorted ascending, which is
    * exactly `ORDER BY overlap DESC, lang ASC LIMIT 1`.
    *
    * Scale shape: the profile build is one explode + map-side
    * combinable (lang, gram) count shuffle + a per-lang top-R window
    * over the tiny distinct-gram set; the profiles collapse to ONE
    * row (a lang→grams map, ≤ langs·topR entries) broadcast to every
    * task, so the per-document scoring — the part that is corpus-
    * sized — is a zero-shuffle projection. No per-doc groupBy, no
    * doc×lang row inflation. */
  def langId(rawDf: DataFrame, idCol: String, textCol: String,
             langCol: String, topR: Int = 50): DataFrame = {
    val df = rebalance(rawDf)
    langIdWith(df, idCol, textCol, langCol,
      langProfiles(df, textCol, langCol, topR))
  }

  /** The trained per-language trigram profiles of [[langId]] as a
    * frame: (__lang, __prof sorted array<string>) — the persistable
    * model state (≤ langs·topR entries), so a FROZEN release model
    * can classify tomorrow's batch ([[langIdWith]]) without
    * retraining. Native one-pass trigrams (graft.catalyst
    * .CharTrigrams), value-identical to charShingles(_, 3). */
  def langProfiles(rawDf: DataFrame, textCol: String, langCol: String,
                   topR: Int = 50): DataFrame = {
    require(topR >= 1, s"profile size must be >= 1, got $topR")
    val df = rebalance(rawDf)
    graft.catalyst.CharTrigrams.register(df.sparkSession)
    val grams = df.select(col(langCol).as("__lang"),
      explode(call_function("char_trigrams", col(textCol), lit(false)))
        .as("__gram"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("__lang").orderBy(col("__n").desc, col("__gram").asc)
    grams.groupBy("__lang", "__gram")
      .agg(count(lit(1)).as("__n"))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topR)
      .groupBy("__lang")
      .agg(sort_array(collect_list(col("__gram"))).as("__prof"))
  }

  /** [[langId]]'s classification stage under EXPLICIT profiles —
    * zero-shuffle scoring with the profile map broadcast; with
    * profiles trained on `rawDf` itself this is [[langId]] exactly
    * (it routes through here, spec- and oracle-pinned unchanged). */
  def langIdWith(rawDf: DataFrame, idCol: String, textCol: String,
                 langCol: String, profiles: DataFrame): DataFrame = {
    val df = rebalance(rawDf)
    graft.catalyst.CharTrigrams.register(df.sparkSession)
    val profMap = broadcast(profiles.groupBy().agg(
      map_from_entries(sort_array(
        collect_list(struct(col("__lang"), col("__prof"))))).as("__pm")))
    val scored = transform(sort_array(map_keys(col("__pm"))), l =>
      struct(
        size(array_intersect(col("__g"), element_at(col("__pm"), l)))
          .as("overlap"),
        l.as("lang")))
    // strict > over ascending langs == overlap DESC, lang ASC argmax;
    // the -1 seed makes an empty-trigram doc land on the smallest lang
    val best = aggregate(scored,
      struct(lit(-1).as("overlap"), lit("").as("lang")),
      (acc, x) => when(x("overlap") > acc("overlap"), x).otherwise(acc))
    df.select(col(idCol), col(langCol).as("lang"),
        call_function("char_trigrams", col(textCol), lit(true)).as("__g"))
      .crossJoin(profMap)
      .withColumn("__best", best)
      .select(col(idCol), col("lang"),
        col("__best")("lang").as("pred_lang"),
        col("__best")("overlap").cast("long").as("overlap"))
  }

  /** ONE-pass fusion of [[gopherQuality]]'s pass flag and
    * [[langIdWith]]'s lang-match flag — the two PER-ROW scorers of
    * the release quality-routing trio (guide §1.3: stop scanning the
    * survivor corpus once per scorer). Output: (idCol, __gp, __lm),
    * with __gp the exact gopher conjunction (same flag expressions,
    * same thresholds) and __lm the exact `pred_lang === lang` test
    * (same trigram call, same profile argmax) — value-identical to
    * running the two operators separately and joining on idCol, with
    * one corpus pass and one join removed. The surprisal scorer stays
    * its own pass (its per-token LM join cannot ride a projection). */
  def qualityFlags(rawDf: DataFrame, idCol: String, textCol: String,
                   langCol: String, profiles: DataFrame,
                   minTokens: Int = 10, maxTokens: Int = 100000,
                   minMeanWordLen: Double = 3.0,
                   maxMeanWordLen: Double = 10.0,
                   minAlphaFrac: Double = 0.8,
                   minStopHits: Int = 2): DataFrame = {
    val df = rebalance(rawDf)
    graft.catalyst.CharTrigrams.register(df.sparkSession)
    val profMap = broadcast(profiles.groupBy().agg(
      map_from_entries(sort_array(
        collect_list(struct(col("__lang"), col("__prof"))))).as("__pm")))
    val toks = col("__toks")
    val meanLen = (col("__chars") - (size(toks) - lit(1))).cast("double") / size(toks)
    val alphaFrac = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("double") /
      size(toks)
    val stopHits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    val scored = transform(sort_array(map_keys(col("__pm"))), l =>
      struct(
        size(array_intersect(col("__g"), element_at(col("__pm"), l)))
          .as("overlap"),
        l.as("lang")))
    val best = aggregate(scored,
      struct(lit(-1).as("overlap"), lit("").as("lang")),
      (acc, x) => when(x("overlap") > acc("overlap"), x).otherwise(acc))
    df.select(col(idCol), col(langCol).as("__lang0"),
        length(col(textCol)).as("__chars"),
        tokens(col(textCol)).as("__toks"),
        call_function("char_trigrams", col(textCol), lit(true)).as("__g"))
      .crossJoin(profMap)
      .select(col(idCol),
        (size(toks).between(minTokens, maxTokens) &&
          meanLen.between(minMeanWordLen, maxMeanWordLen) &&
          (alphaFrac >= minAlphaFrac) && (stopHits >= minStopHits))
          .as("__gp"),
        (best("lang") === col("__lang0")).as("__lm"))
  }

  /** BPE merge LEARNING — the training half of [[bpeMergeStats]]'s
    * merge-table *application* (the corpus-scale tokenizer trainer):
    * the classic Sennrich-et-al iterative top-pair merge. Start from
    * the pretoken frequency table split to characters; each round,
    * (1) count adjacent symbol pairs weighted by pretoken frequency —
    * ONE map-side-combinable groupBy over the word table, (2) take
    * the most frequent pair (ties: lexicographic smallest (left,
    * right) — a total order, so the learned table is deterministic),
    * (3) fuse it everywhere. Returns the ranked merge table
    * `(rank, left, right, pair_count)` — the exact shape
    * [[graft.catalyst.BpeEncode]] consumes (BpeLearnSpec round-trips
    * it).
    *
    * Words are carried as CHR(31)-DELIMITED STRINGS (`␟a␟b␟`), so the
    * fuse step is one anchored string `replace` — left-to-right
    * non-overlapping, which IS greedy BPE fusion semantics, and the
    * identical primitive in every engine (the oracle replays the loop
    * with the same replaces). Two fused words may collide onto one
    * string (["a","b"] + fuse → ["ab"]); rows stay separate — pair
    * counts only ever sum over rows, so collisions are harmless and
    * the fuse stays a zero-shuffle projection.
    *
    * Scale shape: the corpus is touched ONCE (pretoken explode +
    * count — the word table is the distinct-pretoken frequency table,
    * orders of magnitude smaller than the corpus); every round then
    * costs one pair-count shuffle over the word table, a 1-row
    * TakeOrdered for the winner (broadcast back in-plan, no collect),
    * and a projection fuse. Lineage is cut per round
    * (localCheckpoint), same loop policy as Dedup.connectedComponents
    * and KMeans.fit. */
  def bpeLearn(df: DataFrame, textCol: String, numMerges: Int): DataFrame = {
    require(numMerges >= 1)
    val SEP = ""
    val spark = df.sparkSession
    var words = df
      .select(explode(bpePretokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__cnt"))
      .select(concat(lit(SEP), array_join(split(col("__w"), ""), SEP),
        lit(SEP)).as("__s"), col("__cnt"))
      .localCheckpoint()
    val learned = (1 to numMerges).map { rank =>
      val syms = filter(split(col("__s"), SEP), x => x =!= "")
      val pairs = words
        .select(col("__cnt"),
          explode(when(size(syms) >= 2,
            transform(sequence(lit(0), size(syms) - 2), i =>
              struct(element_at(syms, i + 1).as("left"),
                element_at(syms, i + 2).as("right"))))
            .otherwise(array().cast("array<struct<left:string,right:string>>")))
            .as("__p"))
      val top = pairs
        .groupBy(col("__p.left").as("left"), col("__p.right").as("right"))
        .agg(sum(col("__cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("left").asc, col("right").asc)
        .limit(1)
        .localCheckpoint()
      words = words.crossJoin(broadcast(top))
        .select(call_function("replace", col("__s"),
          concat(lit(SEP), col("left"), lit(SEP), col("right"), lit(SEP)),
          concat(lit(SEP), col("left"), col("right"), lit(SEP))).as("__s"),
          col("__cnt"))
        .localCheckpoint()
      top.select(lit(rank.toLong).as("rank"), col("left"), col("right"),
        col("pair_count"))
    }
    learned.reduce(_ unionByName _)
  }

  /** Raw-document EXTRACTION — the trafilatura/jusText slot that
    * precedes every real web-corpus pass: HTML/markup → clean text.
    * Deterministic column pipeline (regex patterns restricted to the
    * Java∩RE2 common subset, so the DuckDB oracle runs the identical
    * rules), in the order a boilerplate extractor applies them:
    *
    *  1. script/style/noscript/template ELEMENTS drop whole (their
    *     content is code, not text), HTML comments drop;
    *  2. the document splits into BLOCKS at block-level tag
    *     boundaries (p, div, h1-h6, li, tr, nav, header, footer…) — the
    *     units boilerplate heuristics reason about;
    *  3. per block, the LINK DENSITY heuristic (jusText's core rule):
    *     count `<a` tags before stripping; a block is boilerplate
    *     when it has fewer than `minWords` words or at least half its
    *     words sit in links (n_words <= 2·n_links) — navigation bars,
    *     footers, and link farms go, prose stays;
    *  4. inline tags strip (`<[^>]*>`), the five ubiquitous entities
    *     decode (&lt; &gt; &quot; &#39; &nbsp;, then &amp; LAST so
    *     double-escaped text decodes one level exactly), whitespace
    *     collapses.
    *
    * Kept blocks reassemble in document order. Output: (id,
    * clean_text, n_blocks, n_kept, n_links) — the drop counts make
    * the heuristic's bite observable per document, same audit policy
    * as the dedup caps. Docs whose every block drops keep a row with
    * clean_text = '' (left join back to the id spine).
    *
    * Scale shape: stages 1-4 are pure projections; the block explode
    * inherits the scan partitioning; the only shuffle is the per-doc
    * reassembly groupBy — exactly [[removeBoilerplateLines]]'s shape,
    * and the natural downstream is that operator plus [[normalize]]
    * over `clean_text`. */
  /** Corpus version diff by content hash — the dataset-versioning
    * report a release pipeline ships between corpus snapshots: per
    * doc id, `added` (in v2 only), `removed` (in v1 only), `changed`
    * (both, md5(text) differs). Unchanged documents are omitted (at
    * corpus scale the diff is the small output; the identity set is
    * the big one). md5 is the engine-portable content fingerprint
    * used everywhere else in this surface.
    *
    * Scale shape: one full-outer id-key join of two projections that
    * carry (id, md5) only — text never moves; the diff is bounded by
    * churn, not corpus size. */
  def corpusDiff(v1: DataFrame, v2: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val a = v1.select(col(idCol), md5(col(textCol)).as("__h1"))
    val b = v2.select(col(idCol), md5(col(textCol)).as("__h2"))
    a.join(b, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__h1").isNull, "added")
          .when(col("__h2").isNull, "removed")
          .when(col("__h1") =!= col("__h2"), "changed")
          .otherwise("unchanged").as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Duplicated-span EXCISION — the remediation half of
    * [[dupNgramSpans]]'s signal (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better", ACL'22: remove the repeated
    * substring, keep the document): a token is cut iff some n-gram
    * that occurs in >= minDocs distinct documents covers it; the
    * cleaned text is the kept tokens re-joined in position order.
    *
    * Shape: the same positional gram table and df filter as
    * dupNgramSpans (gram-key shuffle, map-side combinable); each
    * duplicated gram START expands to its n covered positions
    * (`sequence(q, q+n-1)` explode — bounded by n × duplicated
    * grams, not tokens); kept tokens are a left-anti join and the
    * reconstruction is one per-doc agg whose collect_list goes
    * through sort_array on the (pos, tok) struct — deterministic
    * regardless of arrival order. Returns (idCol, clean_text,
    * n_kept, n_removed); docs that lose everything keep a row with
    * clean_text = '' (the audit trail matters more than the text). */
  def dupSpanRemoval(rawDf: DataFrame, idCol: String, textCol: String,
                     n: Int = 5, minDocs: Int = 2): DataFrame = {
    require(n >= 2 && minDocs >= 2)
    val df = rebalance(rawDf)
    val toksOf = tokens(col(textCol))
    val tok = df.select(col(idCol), posexplode(toksOf).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"), col("tok"))
    val grams = element_at(transform(array(toksOf), t =>
      transform(slice(t, lit(1), greatest(size(t) - (n - 1), lit(0))),
        (x, i) => struct((i + lit(1)).cast("long").as("pos"),
          hex15(concat_ws(" ",
            (0 until n).map(j => element_at(t, i + lit(j + 1))): _*))
            .as("gh")))), 1)
    val gpos = df.select(col(idCol), explode(grams).as("g"))
      .select(col(idCol), col("g.pos").as("gp"), col("g.gh").as("gh"))
    val dupGrams = gpos.select(col(idCol), col("gh")).distinct()
      .groupBy("gh").agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select("gh")
    val covered = gpos.join(dupGrams, Seq("gh"))
      .select(col(idCol),
        explode(sequence(col("gp"), col("gp") + (n - 1))).as("pos"))
      .distinct()
    val kept = tok.join(covered, Seq(idCol, "pos"), "left_anti")
    val counts = tok.groupBy(col(idCol))
      .agg(count(lit(1)).as("__ntok"))
    counts
      .join(kept.groupBy(col(idCol))
        .agg(array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")), " ").as("clean_text"),
          count(lit(1)).as("n_kept")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).cast("long").as("n_kept"),
        (col("__ntok") - coalesce(col("n_kept"), lit(0L))).cast("long")
          .as("n_removed"))
  }

  /** Bigram-LM surprisal — the n-gram upgrade of [[lmSurprisal]]'s
    * unigram filter (the KenLM-perplexity slot in whole bits):
    * p(w_i | w_{i-1}) is add-one smoothed over the corpus bigram
    * table, per-position surprisal quantized through the integer bit
    * length — `bits(c1(prev) + V) − bits(c2(prev,cur) + 1)` — and the
    * document's first token scores under the unigram LM exactly as
    * lmSurprisal does. A fluent document (common bigrams) scores far
    * lower than shuffled common tokens — the signal unigram
    * perplexity cannot see. `n_unseen` (corpus-unique bigram
    * positions) is the tail the quantization flattens.
    *
    * Scale shape: one positional explode reused for both count
    * tables; the bigram and context joins ride the BIGRAM/TOKEN keys
    * (never a vocabulary broadcast); one map-side-combinable doc agg
    * closes. The (V) total collapses to one broadcast row. */
  def bigramSurprisal(rawDf: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val df = rebalance(rawDf)
    val tok = df.select(col(idCol),
        posexplode(tokens(col(textCol))).as(Seq("__p0", "tok")))
      .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"),
        col("tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    val seqd = tok.withColumn("prev", lag("tok", 1).over(w))
    val uni = tok.groupBy("tok").agg(count(lit(1)).as("__c1"))
    val tot = broadcast(uni.agg(sum("__c1").as("__n"),
      count(lit(1)).as("__v")))
    val bi = seqd.filter(col("prev").isNotNull)
      .groupBy("prev", "tok").agg(count(lit(1)).as("__c2"))
    def bits(x: Column): Column = length(bin(x))
    val scoredBi = seqd.filter(col("prev").isNotNull)
      .join(bi, Seq("prev", "tok"))
      .join(uni.select(col("tok").as("prev"), col("__c1").as("__cp")),
        Seq("prev"))
      .crossJoin(tot)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("__nbi"),
        sum(bits(col("__cp") + col("__v")) - bits(col("__c2") + 1))
          .cast("long").as("__bibits"),
        sum(when(col("__c2") === 1, 1L).otherwise(0L)).cast("long")
          .as("n_unseen"))
    val first = tok.filter(col("pos") === 1)
      .join(uni, Seq("tok")).crossJoin(tot)
      .select(col(idCol),
        (bits(col("__n") + col("__v")) - bits(col("__c1") + 1))
          .cast("long").as("__fbits"))
    first.join(scoredBi, Seq(idCol), "left")
      .select(col(idCol),
        (coalesce(col("__nbi"), lit(0L)) + 1).cast("long").as("n_tokens"),
        (col("__fbits") + coalesce(col("__bibits"), lit(0L))).cast("long")
          .as("bits_total"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every positional word
    * `k`-gram, slide a window of `w` consecutive hashes, keep each
    * window's minimum — the guarantee is that any shared run of
    * `w + k − 1` tokens between two documents shares at least one
    * selected fingerprint, at an expected density of 2/(w+1) instead
    * of every-position. The shingle hash is the engine-portable md5
    * domain ([[hex15]]), so ties inside a window are ~2^-60 and the
    * min is well-defined identically in every engine; documents with
    * fewer than `w` shingles degenerate to one global-min window
    * (fewer than `k` tokens → no fingerprints).
    *
    * Returns (idCol, fp) — the DISTINCT selected hashes per document.
    * Scale shape: a pure per-row projection (token array → shingle
    * hashes → window minima, all array HOFs) + one explode; no
    * shuffle, no state. The selected-set size is ~2·len/(w+1) per
    * doc — the storage win over full shingle sets is the point. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 3, w: Int = 4): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    // Native one-pass expression (graft.catalyst.WinnowFp): reused
    // thread-local digest + primitive long arrays, ONE scalar call
    // per document — value-identical to the composed Column form it
    // replaces (the unchanged DuckDB oracles re-prove it), with the
    // same plan shape (shuffle-free projection + explode). History
    // of this hot path: the naive window transform re-evaluated the
    // md5 chain per window (O(L²) md5/doc, 231 s at sf0.1); the
    // lambda-bound Column form fixed that (≈3.5 s); the native
    // expression halves it again by dropping the per-shingle
    // expression interpretation and array-HOF allocation.
    graft.catalyst.WinnowFp.register(df.sparkSession)
    df.select(col(idCol), explode(call_function("winnow_fp",
      tokens(col(textCol)), lit(k), lit(w))).as("fp"))
  }

  /** Cross-document overlap detection over [[winnowFingerprints]]:
    * pairs of documents sharing at least `minShared` selected
    * fingerprints, with the shared count — the MOSS report row, and
    * the plagiarism/contamination signal at corpus scale.
    *
    * Fingerprints held by more than `maxDf` documents are dropped
    * BEFORE pairing (boilerplate k-grams — a fingerprint shared by
    * everything identifies nothing and would quadratically inflate
    * the equi-join, the same hot-bucket failure the LSH band cap
    * guards; the df filter is one count agg, and what it drops is
    * observable by re-running with a higher cap). Scale shape: one
    * fingerprint-key equi-join bounded per key by maxDf², then a
    * map-side-combinable pair count — never all-pairs. */
  def winnowOverlap(df: DataFrame, idCol: String, textCol: String,
                    k: Int = 3, w: Int = 4, minShared: Int = 2,
                    maxDf: Int = 50): DataFrame = {
    val fps = winnowFingerprints(df, idCol, textCol, k, w)
    // One fp-key shuffle builds the bucket (the fingerprint chain
    // evaluates ONCE — a rare-filter + two-sided equi-join would
    // recompute the md5/window projection per plan reference,
    // measured 3× the runtime); pairs expand IN-ROW from the sorted
    // ≤maxDf id list (≤ maxDf²/2 per fingerprint, the same bounded-
    // bucket expansion as the LSH candidate generator).
    val buckets = fps.groupBy("fp")
      .agg(sort_array(collect_list(col(idCol))).as("__ids"))
      .filter(size(col("__ids")).between(2, maxDf))
    val pairs = buckets.select(explode(flatten(
      transform(col("__ids"), (a, i) =>
        transform(slice(col("__ids"), i + 2, size(col("__ids"))),
          b => struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
    pairs.select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Winnowing-based decontamination — the fingerprint face of
    * [[graft.ext.Dedup.decontaminate]]: flag corpus documents sharing
    * >= `minShared` SELECTED (window-min) fingerprints with a
    * benchmark document. Winnowing keeps ~2/(w+1) of the shingle
    * hashes with the shared-run guarantee intact, so the benchmark
    * index this broadcast carries is ~2.5× smaller than the full
    * shingle set at the same k — the storage trade the MOSS selection
    * exists for, applied to the eval-leakage check every training
    * corpus runs.
    *
    * Returns (idCol, eval_id, shared) pairs. Scale shape: the
    * benchmark fingerprint table is tiny and broadcasts; the corpus
    * side is the winnow projection + one broadcast-hash semi-ish join
    * + a map-side pair count — the corpus never shuffles. */
  def winnowDecontaminate(docs: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 3, w: Int = 4,
                          minShared: Long = 2): DataFrame = {
    val cfp = winnowFingerprints(docs, idCol, textCol, k, w)
    val bfp = broadcast(
      winnowFingerprints(benchmark, idCol, textCol, k, w)
        .select(col(idCol).as("eval_id"), col("fp")))
    cfp.join(bfp, Seq("fp"))
      .groupBy(col(idCol), col("eval_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** CCNet-style perplexity-bucket routing (Wenzek et al., LREC'20):
    * per LANGUAGE, rank documents by LM perplexity and cut into
    * head / middle / tail terciles — the quality routing CommonCrawl
    * corpora ship with (head feeds pre-training, tail gets dropped or
    * re-filtered). The perplexity key is [[lmSurprisal]]'s integer
    * surprisal normalized per token in fixed point — `(surprisal_bits
    * · 2^20) div n_tokens` — so the ordering (key asc, id asc) is a
    * total order computed identically in every engine, and `ntile(3)`
    * over it is engine-exact (equal-size buckets, earlier buckets
    * take the remainder, both engines implement the SQL standard).
    *
    * Returns (idCol, lang, n_tokens, ppl_q, bucket, tier) with tier ∈
    * head/middle/tail. Scale shape: lmSurprisal's token-key shuffle +
    * one per-language ranking window — a hot language ranks in one
    * task chain per ntile partition; at extreme scale the epoch-
    * shuffle bucket-offset trick applies the same way (rank =
    * bucket-local rank + broadcast offsets) since the key is already
    * a hash-free total order. */
  def ccnetBuckets(df: DataFrame, idCol: String, textCol: String,
                   langCol: String): DataFrame = {
    val surp = lmSurprisal(df, idCol, textCol)
      .join(df.select(col(idCol), col(langCol).as("lang")), idCol)
      .select(col(idCol), col("lang"), col("n_tokens"),
        expr("(surprisal_bits * 1048576) div n_tokens").as("ppl_q"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang")
      .orderBy(col("ppl_q").asc, col(idCol).asc)
    surp.withColumn("bucket", ntile(3).over(w).cast("long"))
      .withColumn("tier",
        when(col("bucket") === 1, "head")
          .when(col("bucket") === 2, "middle")
          .otherwise("tail"))
  }

  def htmlExtract(df: DataFrame, idCol: String, htmlCol: String,
                  minWords: Int = 3): DataFrame = {
    val dropElems = regexp_replace(col(htmlCol),
      "(?is)<(script|style|noscript|template)(>|[ \t][^>]*>).*?</(script|style|noscript|template)>",
      "")
    val dropComments = regexp_replace(dropElems, "(?s)<!--.*?-->", "")
    val blockTag =
      "(?i)</?(p|div|h[1-6]|li|ul|ol|tr|td|th|table|section|article|header|footer|nav|blockquote|pre|form)(>|[ \t][^>]*>)|<br[ \t]*/?>"
    val blocks = df
      .select(col(idCol), split(dropComments, blockTag).as("__blocks"))
      .select(col(idCol), size(col("__blocks")).as("__nb"),
        posexplode(col("__blocks")).as(Seq("__pos", "__blk")))
    val nLinks = regexp_count(col("__blk"), lit("(?i)<a[ >]"))
    val noTags = regexp_replace(col("__blk"), "<[^>]*>", "")
    // entity names contain no regex metacharacters in either engine,
    // so the patterns are literal on both sides
    val decoded = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (e, r)) => regexp_replace(c, e, r) }
    val cleanBlk = trim(regexp_replace(decoded, "[ \t\r\n]+", " "))
    val scored = blocks.select(col(idCol), col("__nb"), col("__pos"),
        cleanBlk.as("__txt"), nLinks.cast("long").as("__links"))
      .withColumn("__words",
        when(col("__txt") === "", lit(0))
          .otherwise(size(split(col("__txt"), " "))).cast("long"))
    val kept = scored
      .filter(col("__words") >= minWords &&
        col("__words") > col("__links") * 2)
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("__pos"), col("__txt")))),
            s => s.getField("__txt")), "\n").as("clean_text"),
        count(lit(1)).as("n_kept"),
        first(col("__nb")).cast("long").as("n_blocks"))
    val linkTotals = scored.groupBy(col(idCol))
      .agg(sum(col("__links")).as("n_links"),
        first(col("__nb")).cast("long").as("__nb2"))
    df.select(col(idCol)).join(kept, Seq(idCol), "left")
      .join(linkTotals, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_blocks"), col("__nb2")).as("n_blocks"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("n_links"))
  }

  /** Per-document unigram-LM segmentation stats over the native
    * Viterbi expression ([[graft.catalyst.UnigramSegment]]): piece
    * count, UNK count, total integer score, and an order-sensitive
    * md5 fingerprint of the piece sequence (chr(31)-joined) that
    * pins the EXACT segmentation — not just its size — through the
    * gate. Zero-shuffle projection: the vocab rides the expression's
    * reference object and a broadcast map literal; the array
    * aggregations run in-row. */
  def unigramStats(rawDf: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val df = rebalance(rawDf)
    graft.catalyst.UnigramSegment.register(df.sparkSession)
    val vm = typedLit(graft.catalyst.UnigramSegment.DefaultVocab.toMap)
    val unk = lit(graft.catalyst.UnigramSegment.DefaultUnkScore)
    val pieces = call_function("unigram_segment", col(textCol))
    df.select(col(idCol), pieces.as("__p"))
      .select(col(idCol),
        size(col("__p")).cast("long").as("n_pieces"),
        size(filter(col("__p"), p => element_at(vm, p).isNull))
          .cast("long").as("n_unk"),
        aggregate(col("__p"), lit(0L),
          (acc, p) => acc + coalesce(element_at(vm, p), unk))
          .as("score_total"),
        md5(encode(concat_ws("", col("__p")), "UTF-8"))
          .as("pieces_fp"))
  }

  /** Viterbi piece-usage counts — the hard-EM sufficient statistic a
    * unigram-LM trainer prunes the vocab by (pieces whose usage
    * count collapses are the removal candidates each EM round).
    * One map-side-combinable agg keyed by piece: the shuffle domain
    * is bounded by |vocab| + the UNK alphabet, never the corpus. */
  def unigramPieceCounts(rawDf: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val df = rebalance(rawDf)
    graft.catalyst.UnigramSegment.register(df.sparkSession)
    val vm = typedLit(graft.catalyst.UnigramSegment.DefaultVocab.toMap)
    df.select(col(idCol),
        explode(call_function("unigram_segment", col(textCol))).as("piece"))
      .groupBy("piece")
      .agg(count(lit(1)).as("n_uses"),
        countDistinct(col(idCol)).as("n_docs"))
      .withColumn("in_vocab", element_at(vm, col("piece")).isNotNull)
  }

  /** Markdown → clean text — the sibling of [[htmlExtract]] for the
    * other big web-corpus source format (READMEs, wikis, forum
    * exports). Deterministic regex pipeline, zero-shuffle projection:
    * fenced code blocks drop (code is the classic training-data
    * contaminant the extractor's caller routes separately), images
    * and links keep their alt/anchor text, heading/blockquote/list
    * markers and horizontal rules strip, emphasis unwraps, whitespace
    * collapses. Structure counts (headings, links, images, code
    * blocks) ride along — the quality-filter features a markdown
    * corpus keys on. Every pattern stays in the Java∩RE2 subset
    * (same discipline as [[htmlExtract]]/[[UrlOps]]); replacement
    * backreferences are `$1` here and `\\1` in the DuckDB oracle —
    * dialect syntax, same semantics.
    *
    * Ordering constraints the pipeline encodes: images strip before
    * links (an image IS a link form — counting links after the image
    * strip keeps the two counts disjoint), horizontal rules before
    * list bullets (`---` vs `- item`), bold before italic (`**` vs
    * `*`). */
  def markdownExtract(df: DataFrame, idCol: String, mdCol: String)
      : DataFrame = {
    val md = col(mdCol)
    val nCode = regexp_count(md, lit("(?s)```.*?```")).cast("long")
    val nHead = regexp_count(md, lit("(?m)^#{1,6}[ \t]")).cast("long")
    val nImg = regexp_count(md,
      lit("!\\[[^\\]]*\\]\\([^)]*\\)")).cast("long")
    val noCode = regexp_replace(md, "(?s)```.*?```", "")
    val noInline = regexp_replace(noCode, "`([^`]+)`", "$1")
    val noImg = regexp_replace(noInline,
      "!\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val nLink = regexp_count(noImg,
      lit("\\[[^\\]]*\\]\\([^)]*\\)")).cast("long")
    val noLink = regexp_replace(noImg, "\\[([^\\]]*)\\]\\([^)]*\\)", "$1")
    val noHead = regexp_replace(noLink, "(?m)^#{1,6}[ \t]+", "")
    val noQuote = regexp_replace(noHead, "(?m)^>[ \t]?", "")
    val noHr = regexp_replace(noQuote, "(?m)^[ \t]*(-{3,}|\\*{3,})[ \t]*$", "")
    val noBullet = regexp_replace(noHr, "(?m)^[ \t]*[-*+][ \t]+", "")
    val noNum = regexp_replace(noBullet, "(?m)^[ \t]*[0-9]+\\.[ \t]+", "")
    val noBold = regexp_replace(noNum, "\\*\\*([^*]+)\\*\\*", "$1")
    val noItal = regexp_replace(noBold, "\\*([^*]+)\\*", "$1")
    val noUl2 = regexp_replace(noItal, "__([^_]+)__", "$1")
    val noUl1 = regexp_replace(noUl2, "_([^_]+)_", "$1")
    val clean = trim(regexp_replace(noUl1, "[ \t\r\n]+", " "))
    df.select(col(idCol), clean.as("clean_text"),
      nHead.as("n_headings"), nLink.as("n_links"),
      nImg.as("n_images"), nCode.as("n_code_blocks"))
  }

  /** ONE hard-EM prune round of the unigram-LM trainer: segment under
    * the full vocab, count Viterbi piece usage, drop every multi-char
    * piece used fewer than `minUses` times (single code points always
    * survive — the coverage guarantee that keeps every token
    * segmentable), re-segment under the pruned vocab, and report both
    * piece counts plus the pruned segmentation's fingerprint per doc.
    * This is the SentencePiece training loop's inner step — iterate
    * it and the vocab converges onto the pieces that pay for their
    * slots.
    *
    * The usage collect is DRIVER-SIDE BOUNDED: its domain is
    * |vocab| + the UNK alphabet, never the corpus (same bounded-
    * collect class as the bloom bitmap build) — it sizes the pruned
    * vocab that parameterizes the second expression instance. Both
    * segmentation passes are zero-shuffle projections. */
  def unigramPruneRound(rawDf: DataFrame, idCol: String, textCol: String,
                        minUses: Long = 600L): DataFrame = {
    require(minUses >= 1)
    val df = rebalance(rawDf)
    val spark = df.sparkSession
    graft.catalyst.UnigramSegment.register(spark)
    val full = graft.catalyst.UnigramSegment.DefaultVocab
    val counts = df
      .select(explode(call_function("unigram_segment", col(textCol)))
        .as("piece"))
      .groupBy("piece").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = full.filter { case (p, _) =>
      p.codePointCount(0, p.length) == 1 || counts.getOrElse(p, 0L) >= minUses
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "unigram_segment_pruned",
      exprs => graft.catalyst.UnigramSegment(exprs.head, kept), "built-in")
    df.select(col(idCol),
        call_function("unigram_segment", col(textCol)).as("__p1"),
        call_function("unigram_segment_pruned", col(textCol)).as("__p2"))
      .select(col(idCol),
        size(col("__p1")).cast("long").as("n_pieces_full"),
        size(col("__p2")).cast("long").as("n_pieces_pruned"),
        md5(encode(concat_ws("", col("__p2")), "UTF-8"))
          .as("pieces_fp_pruned"))
  }

  /** MAXIMAL repeated-substring lengths — the suffix-array statistic
    * behind exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better": excise every span
    * whose word sequence of ≥ minTokens recurs anywhere in the
    * corpus). [[dupNgramSpans]] flags positions COVERED by a
    * duplicated n-gram; this operator reports, per position, HOW LONG
    * the longest match starting there is (capped at `maxCmp` tokens)
    * — the length signal the excision policy actually ranks by.
    *
    * The suffix-array identity that makes it distributable: in sorted
    * suffix order, the longest match of suffix i is
    * max(LCP(i−1, i), LCP(i, i+1)) — only ADJACENT comparisons are
    * needed. And any pair with LCP ≥ minTokens shares its first
    * minTokens tokens verbatim, so bucketing suffixes by that exact
    * prefix loses no qualifying pair (cross-bucket LCP < minTokens by
    * construction): the global suffix sort decomposes into
    * independent per-bucket sorts — no global window, the same
    * decomposition proof pattern as the epoch-shuffle ranking.
    *
    * Skew posture: suffixes are COLLAPSED to distinct (bucket,
    * truncated-suffix) strings with a count BEFORE the per-bucket
    * sort — on clone/boilerplate corpora a hot bucket of a million
    * identical suffixes becomes ONE row (its match length is its own
    * length: an identical twin exists), so the window never sorts a
    * skewed group; the sort runs over distinct variants only.
    * Suffix strings are chr(1)-joined tokens (UTF8 byte order in
    * both engines; prefixes of longer suffixes order consistently),
    * LCP is a null-safe token-wise compare on the re-split arrays.
    *
    * Output: (idCol, pos, match_len) for 1-based token positions
    * whose maximal match reaches minTokens; match_len saturates at
    * maxCmp — report "at least maxCmp", the excision caller's cue to
    * merge adjacent saturated positions into one span. */
  def suffixMaxMatch(rawDf: DataFrame, idCol: String, textCol: String,
                     minTokens: Int = 10, maxCmp: Int = 20): DataFrame = {
    require(minTokens >= 2 && maxCmp >= minTokens,
      s"need 2 <= minTokens <= maxCmp, got $minTokens/$maxCmp")
    val df = rebalance(rawDf)
    val Sep = ""
    import org.apache.spark.sql.expressions.Window
    val sfxRows = df
      .select(col(idCol), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= minTokens)
      .select(col(idCol), explode(
        transform(sequence(lit(1), size(col("__t")) - (minTokens - 1)),
          p => struct(p.cast("long").as("pos"),
            concat_ws(Sep, slice(col("__t"), p, lit(maxCmp))).as("s"),
            concat_ws(Sep, slice(col("__t"), p, lit(minTokens)))
              .as("bkt")))).as("g"))
      .select(col(idCol), col("g.pos").as("pos"), col("g.s").as("s"),
        col("g.bkt").as("bkt"))
    def lcp(a: Column, b: Column): Column =
      when(a.isNull || b.isNull, lit(0L)).otherwise(coalesce(
        array_position(zip_with(a, b, (x, y) => x <=> y), false) - 1,
        least(size(a), size(b)).cast("long")))
    val w = Window.partitionBy(col("bkt")).orderBy(col("s"))
    val neigh = sfxRows
      .groupBy(col("bkt"), col("s")).agg(count(lit(1)).as("cnt"))
      .withColumn("__arr", split(col("s"), Sep))
      .withColumn("__pa", lag(col("__arr"), 1).over(w))
      .withColumn("__na", lead(col("__arr"), 1).over(w))
      .withColumn("match_len", greatest(
        lcp(col("__arr"), col("__pa")), lcp(col("__arr"), col("__na")),
        when(col("cnt") >= 2, size(col("__arr")).cast("long"))
          .otherwise(lit(0L))))
      .filter(col("match_len") >= minTokens)
      .select(col("s"), col("match_len"))
    sfxRows.join(neigh, Seq("s"))
      .select(col(idCol), col("pos"), col("match_len"))
  }

  /** Distinct (index_id, bkt) gram index over the corpus — the
    * persisted static side of
    * [[graft.streaming.StreamingOps.streamSubstrMatches]] (and of any
    * batch exact-substring decontamination join): `bkt` is
    * [[suffixMaxMatch]]'s bucket key, the chr(1)-joined first
    * `minTokens` tokens of each suffix, so an equi-join hit means the
    * incoming position's next minTokens tokens appear VERBATIM in
    * that index document. Build once at index time, never per
    * micro-batch. */
  def substrGramIndex(rawDf: DataFrame, idCol: String, textCol: String,
                      minTokens: Int = 10): DataFrame = {
    val df = rebalance(rawDf)
    df.select(col(idCol).as("index_id"), tokens(col(textCol)).as("__t"))
      .filter(size(col("__t")) >= minTokens)
      .select(col("index_id"), explode(
        transform(sequence(lit(1), size(col("__t")) - (minTokens - 1)),
          p => concat_ws("", slice(col("__t"), p, lit(minTokens)))))
        .as("bkt"))
      .distinct()
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The ITERATED unigram-LM vocab trainer — [[unigramPruneRound]]'s
    * single hard-EM step run to a TARGET vocab size, the SentencePiece
    * training loop shape (Kudo 2018 §3.2: segment, count piece usage,
    * drop the lowest-contribution slice, repeat). Deterministic
    * schedule, integer-only:
    *  - per round, segment under the CURRENT vocab and count Viterbi
    *    piece usage (one map-side-combinable agg whose domain is
    *    |vocab| + the UNK alphabet — the same bounded driver-side
    *    collect class as the single prune round);
    *  - rank multi-char pieces by (usage DESC, piece ASC) — a total
    *    order — and keep the top
    *    max(targetMulti, multi − max(1, multi/5)): a ≤20% shrink per
    *    round, never overshooting the target, always dropping ≥1
    *    (single code points are exempt — the coverage guarantee);
    *  - stop when the multi-char count reaches `targetMulti` (or
    *    `maxRounds` caps a misconfigured run).
    * The returned frame IS the convergence log — one row per round:
    * (round, n_multi_before, n_multi_after, n_dropped, corpus_pieces
    * under the round's starting vocab, md5 fingerprint of the FULL
    * surviving vocab joined by chr(31) in piece order) — so the
    * vocab-size trajectory and each round's exact membership are
    * oracle-checked, not narrated. The shrink schedule is a pure
    * function of (|multi₀|, targetMulti), which is how the DuckDB
    * oracle unrolls the same rounds as chained Viterbi-DP CTEs.
    *
    * Scale shape: each round is one zero-shuffle segmentation
    * projection plus one piece-keyed count agg; the corpus never
    * shuffles and never lands on the driver (the usage collect is
    * |vocab|-bounded). Rounds are O(log(|multi₀|/targetMulti)) by
    * the 20% rule. */
  def unigramTrain(rawDf: DataFrame, textCol: String,
                   targetMulti: Int = 15, maxRounds: Int = 8): DataFrame = {
    require(targetMulti >= 0 && maxRounds >= 1)
    val df = rebalance(rawDf)
    val spark = df.sparkSession
    import spark.implicits._
    def isMulti(p: String): Boolean = p.codePointCount(0, p.length) > 1
    var vocab = graft.catalyst.UnigramSegment.DefaultVocab
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long, Long, Long, String)]
    var round = 1
    var done = vocab.count(v => isMulti(v._1)) <= targetMulti
    while (!done && round <= maxRounds) {
      val v = vocab
      val fname = s"unigram_segment_train_r$round"
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(
        fname, exprs => graft.catalyst.UnigramSegment(exprs.head, v),
        "built-in")
      val counts = df
        .select(explode(call_function(fname, col(textCol))).as("piece"))
        .groupBy("piece").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val corpusPieces = counts.valuesIterator.sum
      val multi = vocab.filter(p => isMulti(p._1))
      val keepK = math.max(targetMulti,
        multi.size - math.max(1, multi.size / 5))
      val kept = multi
        .sortBy { case (p, _) => (-counts.getOrElse(p, 0L), p) }
        .take(keepK).map(_._1).toSet
      vocab = vocab.filter { case (p, _) => !isMulti(p) || kept(p) }
      val fp = md5Hex(vocab.map(_._1).sorted.mkString(""))
      rows += ((round.toLong, multi.size.toLong, keepK.toLong,
        (multi.size - keepK).toLong, corpusPieces, fp))
      done = keepK <= targetMulti
      round += 1
    }
    rows.toSeq.toDF("round", "n_multi_before", "n_multi_after",
      "n_dropped", "corpus_pieces", "vocab_fp")
  }

  /** Trigram STUPID-BACKOFF surprisal of `scored` documents under an
    * n-gram LM fit on a separate `ref` corpus (Brants et al. 2007,
    * "Large Language Models in Machine Translation" — the backoff
    * scheme built for corpus-scale LMs: no discount mass bookkeeping,
    * just a fixed penalty per backoff level). Completes the repo's LM
    * ladder (unigram [[lmSurprisal]], bigram [[bigramSurprisal]],
    * two-LM [[dsirWeights]]) with the CROSS-corpus shape every
    * quality/contamination filter actually runs: score held-out text
    * under a reference LM, where unseen n-grams are the norm and the
    * backoff chain does real work.
    *
    * Integer core, same as the rest of the ladder: a token's cost is
    * the whole-bit log-ratio `bits(ctx_count) − bits(ngram_count)`
    * at the deepest MATCHED order, plus 1 bit per level backed off
    * (α = ½ exactly — a float α is correctly rounded in neither
    * engine). OOV closes at `1 + bits(N + V)`. Positions 1–2 lack a
    * trigram context and are not scored (n_scored counts what is).
    *
    * Scale shape: count tables ride TOKEN/ngram keys (never a
    * vocabulary broadcast); scoring is a chain of key-equi left
    * joins against count tables — each count row unique per key, so
    * no join amplifies — and one map-side-combinable doc agg. The
    * (N, V) totals collapse to one broadcast row. The per-doc lag
    * window is doc-partitioned (no global funnel). */
  def trigramBackoffSurprisal(refDf: DataFrame, scoredDf: DataFrame,
                              idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def seqOf(df: DataFrame): DataFrame = {
      val w = Window.partitionBy(idCol).orderBy("pos")
      df.select(col(idCol),
          posexplode(tokens(col(textCol))).as(Seq("__p0", "tok")))
        .select(col(idCol), (col("__p0") + 1).cast("long").as("pos"),
          col("tok"))
        .withColumn("p1", lag("tok", 1).over(w))
        .withColumn("p2", lag("tok", 2).over(w))
    }
    val r = seqOf(rebalance(refDf))
    val uni = r.groupBy("tok").agg(count(lit(1)).as("__c1"))
    val tot = broadcast(uni.agg(sum("__c1").cast("long").as("__n"),
      count(lit(1)).as("__v")))
    val bi = r.filter(col("p1").isNotNull)
      .groupBy("p1", "tok").agg(count(lit(1)).as("__c2"))
    val tri = r.filter(col("p2").isNotNull)
      .groupBy("p2", "p1", "tok").agg(count(lit(1)).as("__c3"))
    val s = seqOf(rebalance(scoredDf)).filter(col("p2").isNotNull)
    def bits(x: Column): Column = length(bin(x))
    val scoredTok = s
      .join(tri, Seq("p2", "p1", "tok"), "left")
      .join(bi, Seq("p1", "tok"), "left")
      .join(bi.select(col("p1").as("p2"), col("tok").as("p1"),
        col("__c2").as("__cctx3")), Seq("p2", "p1"), "left")
      .join(uni.select(col("tok").as("p1"), col("__c1").as("__cctx2")),
        Seq("p1"), "left")
      .join(uni, Seq("tok"), "left")
      .crossJoin(tot)
      .withColumn("__lvl",
        when(col("__c3").isNotNull, lit(3))
          .when(col("__c2").isNotNull, lit(2))
          .when(col("__c1").isNotNull, lit(1)).otherwise(lit(0)))
      .withColumn("__bits",
        when(col("__lvl") === 3, bits(col("__cctx3")) - bits(col("__c3")))
          .when(col("__lvl") === 2,
            lit(1) + bits(col("__cctx2")) - bits(col("__c2")))
          .when(col("__lvl") === 1,
            lit(2) + bits(col("__n")) - bits(col("__c1")))
          .otherwise(lit(1) + bits(col("__n") + col("__v"))))
    scoredTok.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(col("__bits")).cast("long").as("bits_total"),
        sum(when(col("__lvl") === 3, 1L).otherwise(0L)).as("n_tri"),
        sum(when(col("__lvl") === 2, 1L).otherwise(0L)).as("n_bi_backoff"),
        sum(when(col("__lvl") === 1, 1L).otherwise(0L)).as("n_uni_backoff"),
        sum(when(col("__lvl") === 0, 1L).otherwise(0L)).as("n_oov"))
  }
}
