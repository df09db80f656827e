package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.meta.CollectionMeta

/** Text-analysis primitives for large-scale training-data pipelines.
  *
  * Everything here composes built-in codegen'd SQL functions — no UDFs — so
  * the operators stay inside whole-stage codegen and scale linearly with
  * executors: per-row work only, no shuffles, no driver participation.
  */
object TextOps {

  /** Floor a frame's parallelism at the session default before HEAVY
    * per-row expression work (shingling, signatures, gram sorts). A scan
    * whose source has fewer splittable units than cores — one parquet row
    * group, one gzip member, a single small file — otherwise pins the
    * whole expression stage to 1-2 tasks while the rest of the machine
    * idles (guide §2.5 input skew / §2.6 idle capacity). The exchange this
    * may insert moves the RAW rows once, BEFORE the expression stage
    * amplifies them into shingle/signature arrays — the cheap side of the
    * pipeline to move (§2.3). At production scan widths the partition
    * count already meets the floor and this is a no-op: no exchange is
    * added, so corpus-sized inputs are never blanket-reshuffled. */
  private[ops] def parallelized(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // Probe the width ONLY on narrow plans (no Exchange in the pre-AQE
    // physical plan): with AQE on, `.rdd` on a plan containing exchanges
    // eagerly materializes every upstream query stage at DataFrame-
    // construction time, and the later real action re-plans and re-runs
    // them — silently doubling upstream work on caller-supplied frames
    // (resolved collection views, composed-loop intermediates). A frame
    // that already shuffled gets its downstream parallelism from AQE
    // anyway, so the floor is both unsafe to probe and unnecessary there.
    val narrow = !df.queryExecution.sparkPlan.exists {
      case _: org.apache.spark.sql.execution.exchange.Exchange => true
      case _ => false
    }
    if (narrow && df.rdd.getNumPartitions < target) df.repartition(target)
    else df
  }

  /** Whitespace tokenization (the testdata corpus is space-separated; use
    * [[tokensRegex]] for punctuation-bearing corpora). */
  def tokens(text: Column): Column = split(text, " ")

  /** BPE-ish tokenizer approximation: splits on non-word boundaries. */
  def tokensRegex(text: Column): Column =
    filter(split(lower(text), "\\W+"), t => length(t) > 0)

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Word k-shingles as space-joined strings (k >= 1); degenerate short
    * texts produce a single whole-text shingle. */
  def wordShingles(text: Column, k: Int): Column = {
    val toks = tokens(text)
    transform(
      sequence(lit(1), greatest(size(toks) - lit(k - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(k))))
  }

  /** Distinct shingle set — the unit of Jaccard similarity. */
  def shingleSet(text: Column, k: Int): Column = array_distinct(wordShingles(text, k))

  /** MinHash signature: `n` permutations simulated by re-hashing with the
    * permutation index; each component is the min hash over the shingle set
    * (Broder'97 scheme). Each shingle STRING is hashed once; the n
    * permutations then mix the resulting 8-byte longs — ~string-length/8
    * times cheaper per permutation than re-hashing the string. Pure per-row
    * expression work, no shuffle. Implemented as the native fused
    * [[graft.functions.MinHashSignature]] expression (one flat codegen loop,
    * zero per-shingle allocation); [[minhashSignatureComposed]] is the
    * built-ins-only reference it is asserted bit-exact against. */
  def minhashSignature(shingles: Column, n: Int): Column =
    graft.functions.TextExpressions.minhash_signature(shingles, n)

  /** Built-ins-composed MinHash reference (one fold carrying all n minima —
    * itself far better than n separate aggregates, but still allocating
    * three arrays per shingle). Kept for cross-checking the native
    * expression; same hash chain, so results match bit-for-bit. */
  def minhashSignatureComposed(shingles: Column, n: Int): Column = {
    val hashed = transform(shingles, s => xxhash64(s))
    aggregate(hashed, array_repeat(lit(Long.MaxValue), n),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(n - 1)), i => xxhash64(h, i)),
        (a, b) => least(a, b)))
  }

  /** Unicode NFC normalization (native codegen'd expression — see
    * [[graft.functions.NfcNormalize]]): decomposed accents and
    * compatibility forms collapse to one canonical byte sequence, so
    * exact dedup / fingerprinting can't miss texts that differ only in
    * encoding form. */
  def nfcNormalize(text: Column): Column =
    graft.functions.TextExpressions.nfc_normalize(text)

  /** Canonical text cleaning: NFC normalize, collapse space runs, trim —
    * the first preprocessing stage of a training corpus. Pure per-row
    * expression work (no UDF, no shuffle). */
  def cleanText(text: Column): Column =
    trim(regexp_replace(nfcNormalize(text), " +", " "))

  /** Unigram-LM quality score — the CCNet/perplexity-bucket shape: score
    * each document by its mean negative log-likelihood under a unigram
    * model of the reference corpus itself. Common/natural text scores low,
    * rare-token garbage scores high; filtering or bucketing on the score
    * is the standard corpus-quality pass.
    *
    * Scale + determinism: the model is one token-count aggregation (the
    * vocabulary, tiny next to the corpus, broadcast back for scoring);
    * per-token log-probs are rounded to 6 decimals BEFORE summation and
    * summed through DECIMAL(27,12), so the score is bit-identical across
    * partitionings and engines (FP `sum(double)` would drift with
    * partial-aggregation order, and ln() can differ in the last ulp
    * between libms).
    *
    * Collision contract: tokens are keyed by their 64-bit `xxhash64`
    * (Spark's seed 42), not by their strings. Two distinct tokens of the
    * corpus with equal hashes are one vocabulary entry: their counts add
    * and both score with the merged log-probability. Otherwise the scores
    * equal the string-keyed definition exactly. For V distinct tokens the
    * chance of any collision is at most V²/2^65 (about 3e-8 at V = 10^6);
    * no collision is detected or reported. */
  def lmNllScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // token keys hashed to 8-byte longs before the vocabulary exchange
    // and the broadcast (the d09 discipline): the model relation carries
    // (long, double) instead of token strings — a smaller broadcast
    // build + probe — and the scoring join hashes one long instead of a
    // string. Counts survive hashing (2^-64 collision odds per token
    // pair); the corpus scan side is unchanged.
    val toks = df.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("th"))
    val vocab = toks.groupBy(col("th")).agg(count(lit(1)).as("c"))
    val total = vocab.agg(sum(col("c")).as("t"))
    val model = vocab.crossJoin(broadcast(total))
      .select(col("th"),
        round(-log(col("c").cast("double") / col("t")), 6).as("nll"))
    toks.join(broadcast(model), Seq("th"))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(col("nll").cast(DecimalType(27, 12))).cast("double") /
          count(lit(1)), 4).as("lm_nll"))
  }

  /** BIGRAM-LM quality score: mean negative log-likelihood per document
    * under the corpus' own add-one-smoothed bigram model —
    * `nll(a,b) = -ln((c(ab)+1) / (c(a)+V))` — the conditional upgrade of
    * [[lmNllScores]]'s unigram signal (catches locally-fluent-but-
    * scrambled text a bag-of-words score misses; the KenLM-filter shape).
    * Same exactness discipline: per-bigram log-probs pre-rounded to 6
    * decimals and DECIMAL-summed, so the DuckDB twin matches despite ln()
    * and aggregation order. Model and scores are two hash aggregations +
    * one broadcast-or-shuffle join on the bigram key — no all-pairs, no
    * driver collections beyond the vocab size V. Docs with fewer than two
    * tokens carry no bigram and emit no row.
    *
    * Collision contract: tokens and bigrams are keyed by their 64-bit
    * `xxhash64` (Spark's seed 42), not by their strings. Two distinct keys
    * of the corpus with equal hashes are counted as one: bigram counts,
    * leading-token counts and V merge, and every document holding either
    * key scores with the merged counts. Otherwise the scores equal the
    * string-keyed definition exactly. For K distinct keys the chance of
    * any collision is at most K²/2^65 (about 3e-8 at K = 10^6); no
    * collision is detected or reported. */
  def lmBigramNllScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) >= 2)
    // Every exchanged key is an 8-byte xxhash64 (the d09 discipline):
    // the corpus-of-bigrams frames shuffle (doc_id, bigram-hash) and the
    // model aggregations shuffle hashes instead of token/bigram STRINGS
    // — the dominant byte volume of the old shape. Counts survive
    // hashing (2^-64 collision odds per key pair, the same trade every
    // hashed-shingle path already accepts). `ah` (the leading token's
    // hash) rides along for the conditional ca lookup.
    val pairs = toks.select(col("doc_id"), explode(
        zip_with(
          slice(col("ts"), lit(1), size(col("ts")) - 1),
          slice(col("ts"), lit(2), size(col("ts")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .select(col("doc_id"),
        xxhash64(col("p.a")).as("ah"),
        xxhash64(col("p.a"), col("p.b")).as("bh"))
    val uni = toks.select(explode(col("ts")).as("tok"))
      .select(xxhash64(col("tok")).as("ah"))
      .groupBy(col("ah")).agg(count(lit(1)).as("ca"))
    // vocabulary size as a 1-row broadcast instead of an EAGER count():
    // the old uni.count() ran a full corpus pass at plan-construction
    // time and then recomputed uni again inside the model join
    val vDf = uni.agg(count(lit(1)).as("v"))
    val bi = pairs.groupBy(col("bh"))
      .agg(count(lit(1)).as("cab"), min(col("ah")).as("ah"))
    val model = bi.join(uni, Seq("ah"))
      .crossJoin(broadcast(vDf))
      .select(col("bh"),
        round(-log((col("cab") + 1).cast("double") / (col("ca") + col("v"))), 6)
          .as("nll"))
    pairs.select(col("doc_id"), col("bh")).join(model, Seq("bh"))
      .groupBy(col("doc_id"))
      .agg(round(
        sum(col("nll").cast(DecimalType(27, 12))).cast("double") /
          count(lit(1)), 4).as("bigram_nll"))
  }

  /** BM25 KEYWORD EXTRACTION: the top-`k` scoring terms per document
    * under Okapi BM25 (Robertson/Sparck Jones) with the corpus as the
    * collection — the classic relevance/quality feature pipelines attach
    * to crawled documents (salient-term profiling, topic balancing,
    * near-dup explanation). Fully declarative: one explode into (doc,
    * term) counts, one vocabulary aggregation for document frequencies,
    * one single-row corpus aggregate (N, avgdl) broadcast by the
    * optimizer, and a per-doc window for the top-k — shuffles scale with
    * tokens and vocabulary, never pairs, so the plan survives any corpus
    * size. Scores round to 4 decimals BEFORE ranking so ranks (and the
    * DuckDB twin) are deterministic; ties break to the lexicographically
    * smaller term. Returns (doc_id, rk, term, score).
    *
    * Collision contract: document frequencies are keyed by each term's
    * 64-bit `xxhash64` (Spark's seed 42); the returned `term` is always the
    * document's own string. Two distinct terms with equal hashes share one
    * document frequency (the sum of both), so both score as if equally
    * common. Otherwise the scores equal the string-keyed definition
    * exactly. For V distinct terms the chance of any collision is at most
    * V²/2^65 (about 3e-8 at V = 10^6); no collision is detected or
    * reported. */
  def bm25TopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
        filter(split(lower(col(textCol)), " "), t => length(t) > 0).as("ts"))
      .filter(size(col("ts")) > 0)
    // Per-doc term frequencies are a PER-ROW computation (the t16
    // map-only discipline): sort the token array once and run-length
    // encode it — boundaries are the positions where the sorted array
    // changes, each run is one (term, tf) pair — so the old
    // explode → groupBy(doc, term) corpus-of-tokens exchange disappears,
    // and dl (the doc length BM25 needs) is just size(ts), not a second
    // aggregation. O(n log n) per doc, identical counts. The sorted
    // array and the boundary list are BOUND AS COLUMNS before any lambda
    // references them: an expression inlined into a higher-order
    // function's lambda body re-evaluates PER ELEMENT (an inlined
    // array_sort turns the scan O(n² log n) — measured 37x slower).
    val tf = toks
      .select(col("doc_id"), size(col("ts")).cast("long").as("dl"),
        array_sort(col("ts")).as("__sorted"))
      .select(col("doc_id"), col("dl"), col("__sorted"),
        filter(sequence(lit(1), size(col("__sorted"))), i =>
          i === 1 || element_at(col("__sorted"), i) =!=
            element_at(col("__sorted"), i - 1)).as("__bounds"))
      .select(col("doc_id"), col("dl"),
        explode(zip_with(
          col("__bounds"),
          concat(slice(col("__bounds"), lit(2),
              greatest(size(col("__bounds")) - 1, lit(0))),
            array(size(col("__sorted")) + 1)),
          (s, e) => struct(element_at(col("__sorted"), s).as("term"),
            (e - s).cast("long").as("tf")))).as("tt"))
      .select(col("doc_id"), col("dl"), col("tt.term").as("term"),
        col("tt.tf").as("tf"), xxhash64(col("tt.term")).as("th"))
    // document frequencies keyed by the 8-byte term hash (the d09
    // hashed-key discipline): the vocabulary exchange and the join key
    // carry longs instead of term strings
    val dfreq = tf.groupBy(col("th")).agg(count(lit(1)).as("df"))
    // 1-row corpus constants straight off the per-doc frame (one row per
    // doc by construction — no aggregation pipeline needed to count docs)
    val corpus = toks.agg(count(lit(1)).as("n_docs"),
      avg(size(col("ts")).cast("long")).as("avgdl"))
    // broadcast the 1-row corpus constant explicitly (every other
    // corpus-constant join in this file does): the planner handles a
    // 1-row side fine today, but the hint keeps the plan shape
    // independent of stats drift
    val scored = tf.join(dfreq, "th")
      .crossJoin(broadcast(corpus))
      .select(col("doc_id"), col("term"),
        round(
          log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)) *
            (col("tf") * lit(k1 + 1)) /
            (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))),
          4).as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("term"), col("score"))
  }

  /** Estimated Jaccard from two MinHash signatures: fraction of agreeing
    * components. */
  def minhashEstimate(sigA: Column, sigB: Column): Column =
    size(filter(zip_with(sigA, sigB, (a, b) => a === b), x => x)).cast("double") /
      size(sigA).cast("double")

  /** Exact Jaccard between two (distinct) shingle arrays. |A∪B| comes from
    * |A|+|B|−|A∩B| (exact for distinct inputs — every caller passes
    * array_distinct-derived sets), so verification pays ONE hash-set pass
    * per pair instead of two: array_union built and allocated the merged
    * array only for its size. Codegen subexpression elimination evaluates
    * the shared array_intersect once. Same integer sizes, bit-identical
    * quotient. */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b))
    i.cast("double") / (size(a) + size(b) - i).cast("double")
  }

  /** 64-bit SimHash over a token array (Charikar'02): per bit position, sum
    * +1/-1 votes from each token's hash bit; the sign becomes the bit.
    * Native fused expression ([[graft.functions.SimHash64]]);
    * [[simhash64Composed]] is the built-ins reference it's asserted
    * bit-exact against. */
  def simhash64(toks: Column): Column =
    graft.functions.TextExpressions.simhash64(toks)

  /** Built-ins-composed SimHash reference (one fold carrying a 64-counter
    * array — see [[minhashSignatureComposed]] for the pattern rationale). */
  def simhash64Composed(toks: Column): Column = {
    val hashed = transform(toks, t => xxhash64(t))
    val votes = aggregate(hashed, array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc,
        transform(sequence(lit(0), lit(63)),
          i => when(call_function("shiftright", h, i).bitwiseAND(lit(1L)) === 1L, 1L).otherwise(-1L)),
        (a, b) => a + b))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, i) => when(v >= 0L, call_function("shiftleft", lit(1L), i)).otherwise(0L)),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Rolling-hash document fingerprint: order-sensitive 64-bit hash folded
    * over tokens by chaining xxhash64(previous, token) — distinguishes
    * permutations (unlike a bag-of-words hash) and cannot overflow. */
  def rollingFingerprint(toks: Column): Column =
    aggregate(toks, lit(1125899906842597L), // large prime seed
      (acc, t) => xxhash64(acc, t))

  // ---------------------------------------------------------------- langid

  /** Tiny stopword inventories for the n-gram/stopword language heuristic.
    * Real pipelines swap in fastText-style models; the *shape* (score per
    * language from per-row set intersections, argmax) is the scalable part. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "it", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "que", "por"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"))

  /** Heuristic language-ID: argmax of stopword overlap; 'und' when no
    * language scores. Deterministic ties broken by language code order. */
  def langId(toks: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(
        size(array_intersect(toks, typedlit(words))).as("score"),
        lit(langCode).as("lang"))
    }
    val best = greatest(scored: _*) // struct ordering: score first, then lang
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  // ------------------------------------------------------------- redaction

  /** Email-address pattern (ASCII, case-insensitive corpora should lower()
    * first). Identical semantics in Java regex and RE2, so the same pattern
    * drives both the Spark operator and a cross-engine oracle. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** Phone-number-ish pattern: an optional +, then 7+ digits allowing
    * separators. Deliberately simple — recall over precision, the usual
    * pre-training scrub posture. */
  val PhonePattern = "\\+?[0-9][0-9()\\-\\s]{5,}[0-9]"

  /** PII scrub: replace emails and phone-like spans with typed placeholder
    * tokens. Pure codegen'd `regexp_replace` — per-row work only, no
    * shuffle, linear at any corpus size. Emails first so digit runs inside
    * addresses can't be half-eaten by the phone pass. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, EmailPattern, "[EMAIL]"),
      PhonePattern, "[PHONE]")

  // -------------------------------------------------------------- chunking

  /** Overlapping token windows — the unit every embedding/pretraining
    * pipeline feeds its model: `window` tokens per chunk, stepping by
    * `stride` (< window = overlap). A document shorter than one window is
    * one chunk. Pure per-row array expressions (no shuffle, no UDF); the
    * caller explodes the result, so output volume ≈ corpus × window/stride
    * — the expected blow-up, paid in map-side work only. */
  def chunkTexts(text: Column, window: Int, stride: Int): Column = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    val toks = tokens(text)
    val n = size(toks)
    val nChunks = when(n <= window, lit(1))
      .otherwise(ceil((n - window).cast("double") / stride).cast("int") + 1)
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * stride + 1, lit(window))))
  }

  // ------------------------------------------------------------ repetition

  /** Token-level repetition ratio in [0,1): fraction of tokens that are
    * repeats of an earlier token (Gopher-style repetition signal adapted to
    * single-line docs). 0 = all tokens distinct; high values flag
    * low-quality boilerplate/spam for corpus filtering. */
  def repetitionRatio(text: Column): Column = {
    val toks = tokens(text)
    round(lit(1.0) - size(array_distinct(toks)).cast("double") /
      greatest(size(toks), lit(1)).cast("double"), 6)
  }

  /** Gopher's duplicate-n-gram repetition signal: the fraction of a
    * document's characters attributable to word n-grams that occur at
    * least twice IN THAT DOCUMENT — sum over duplicated n-grams of
    * (occurrences × n-gram chars) / document chars. (The standard public
    * simplification of per-character coverage: overlapping occurrences
    * count fully, so templated/looping text can exceed thresholds fast —
    * which is the point of the filter.) Returns (id, dup_frac) per
    * document. One explode + one (doc, gram) shuffle — the d04 shape;
    * per-doc cardinality is bounded by token count, so the key space
    * scales with the corpus, never a cross-doc hotspot. */
  def dupNgramCharFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int = 5): DataFrame = {
    // MAP-ONLY: every n-gram of a doc lives inside the doc's own row, so
    // the duplicate-character mass is a per-row computation — sort the
    // gram array and sum run lengths in one fold (guide §2.4: remove
    // shuffles outright). The previous shape exploded every gram STRING
    // into two hash aggregates and a join-back: two corpus-of-grams
    // exchanges carrying ~n-word strings, for a statistic each row can
    // compute about itself. A run of r >= 2 equal grams contributes
    // r*len(gram) chars: +2*len when the 2nd copy is seen, +len per copy
    // after — identical integer math to the old SUM(cnt*length(gram)).
    val grams = array_sort(wordShingles(col(textCol), n))
    val dupChars = aggregate(
      grams,
      struct(lit(null).cast("string").as("prev"), lit(1).as("run"),
        lit(0L).as("dup")),
      (st, g) => {
        val isRep = st("prev") === g // null-safe: first gram -> otherwise
        struct(
          g.as("prev"),
          when(isRep, st("run") + 1).otherwise(lit(1)).as("run"),
          (st("dup") + when(isRep,
            when(st("run") === 1, length(g).cast("long") * 2L)
              .otherwise(length(g).cast("long"))).otherwise(lit(0L)))
            .as("dup"))
      },
      st => st("dup"))
    parallelized(df).select(col(idCol),
      round(dupChars.cast("double") /
        greatest(length(col(textCol)), lit(1)).cast("double"), 6)
        .as("dup_frac"))
  }

  // --------------------------------------------------------------- quality

  // ------------------------------------------------- vocab-sidecar tokenizer

  /** Persist a tokenizer vocabulary as a collection sidecar
    * (`vocab.json` metadata slot, piece ids = 1-based list positions) — the
    * model-adjacent artifact a tokenization pipeline ships with its data.
    * Tiny (vocabularies are KBs), loaded once driver-side and broadcast
    * inside the expression. */
  def saveVocab(dir: java.nio.file.Path, pieces: Seq[String]): Unit = {
    require(pieces.nonEmpty && pieces.distinct.length == pieces.length,
      "vocab must be non-empty with distinct pieces")
    CollectionMeta.writeEntries(dir, CollectionMeta.VocabSlot, pieces)
  }

  /** The vocabulary persisted by [[saveVocab]], if any. */
  def loadVocab(dir: java.nio.file.Path): Option[Seq[String]] =
    CollectionMeta.readJson[Seq[String]](dir, CollectionMeta.VocabSlot)

  /** Greedy longest-match subword tokenization over `vocab`
    * ([[graft.functions.GreedyTokenize]]): array of 1-based piece ids,
    * UNK = 0. Codegen'd; one hash probe per candidate piece length per
    * character — the per-document hot loop stays allocation-light. */
  def tokenizeGreedy(text: Column, vocab: Seq[String]): Column =
    graft.functions.TextExpressions.greedy_tokenize(text, vocab)

  /** Composite quality score in [0,1] from cheap per-row signals: token
    * count band, mean token length band, stopword presence, alpha ratio.
    * Deterministic arithmetic only (cross-engine reproducible). */
  /** Gopher-style repetition-free quality RULES (Rae et al. 2021, the
    * filter battery every large-scale text pipeline reimplements): per-doc
    * structural metrics plus the boolean `keep` verdict of the canonical
    * bounds — word count in [50, 100k], mean word length in [3, 10],
    * hash/ellipsis symbol-to-word ratio < 0.1, < 90% bullet-led lines,
    * < 30% ellipsis-ended lines, > 80% of words containing an alphabetic
    * character, and at least 2 distinct required stopwords present.
    * Pure codegen'd expressions over one row at a time — map-only at any
    * scale, no shuffle, no UDFs; every metric is re-derivable in ANSI SQL,
    * which is how the oracle pins it. */
  /** Gopher's canonical required-stopword inventory (distinct-presence
    * count, not frequency) — deliberately NOT the langId list above. Real
    * pipelines swap a corpus/language-appropriate function-word list in
    * via `requiredStopwords`. */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  def gopherQuality(df: DataFrame, idCol: String, textCol: String,
      requiredStopwords: Seq[String] = GopherStopwords): DataFrame = {
    val t = col(textCol)
    val words = split(trim(t), "\\s+")
    val wordsLower = transform(words, w => lower(w))
    val nW = size(words)
    val n = nW.cast("double")
    val lines = split(t, "\n")
    val nL = size(lines).cast("double")
    val gopherStops = requiredStopwords
    val meanLen = aggregate(words, lit(0), (a, w) => a + length(w)).cast("double") / n
    // non-overlapping leftmost replacement on both engines, so the length
    // delta of stripping "..." is always a multiple of 3
    val hashes = (length(t) - length(regexp_replace(t, "#", ""))).cast("double")
    val ellipses = (length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))).cast("double") / 3.0
    val symbolRatio = (hashes + ellipses) / n
    val bulletFrac = size(filter(lines,
      l => substring(trim(l), 1, 1).isin("-", "•", "*"))).cast("double") / nL
    val ellipsisFrac = size(filter(lines, l => trim(l).endsWith("..."))).cast("double") / nL
    val alphaFrac = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") / n
    val nStop = size(filter(typedlit(gopherStops), s => array_contains(wordsLower, s)))
    df.select(col(idCol),
      nW.as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symbolRatio, 4).as("symbol_ratio"),
      round(bulletFrac, 4).as("bullet_frac"),
      round(ellipsisFrac, 4).as("ellipsis_frac"),
      round(alphaFrac, 4).as("alpha_frac"),
      nStop.as("n_stopwords"),
      (nW.between(50, 100000) && meanLen.between(3.0, 10.0) &&
        symbolRatio < 0.1 && bulletFrac < 0.9 && ellipsisFrac < 0.3 &&
        alphaFrac > 0.8 && nStop >= 2).as("keep"))
  }

  /** C4-style structural cleaning (Raffel et al. 2020 §2.2, the "colossal
    * clean crawled corpus" rules) as one narrow map-only pass: per document,
    * count the lines that SURVIVE the line rules (ends in a terminal
    * punctuation mark; at least `minLineWords` whitespace words) and apply
    * the document rules (no "lorem ipsum", no '{' — the code heuristic —
    * and at least `minKeptLines` surviving lines). Emits the counts plus
    * the per-rule booleans so a pipeline can route rejects by reason; the
    * span-level dedup C4 pairs with this is [[DedupOps]] d13. Everything is
    * built-in higher-order functions over one `split` — codegen'd, no
    * shuffle, no UDF — so at 100 TB this is a pure scan-side filter. */
  def c4Rules(df: DataFrame, idCol: String, textCol: String,
      minLineWords: Int = 3, minKeptLines: Int = 3): DataFrame = {
    val t = col(textCol)
    val lines = split(t, "\n")
    val keptLines = filter(lines, l =>
      substring(trim(l), -1, 1).isin(".", "!", "?", "\"") &&
        size(split(trim(l), "\\s+")) >= minLineWords)
    val nLines = size(lines)
    val nKept = size(keptLines)
    val hasLorem = lower(t).contains("lorem ipsum")
    val hasBrace = t.contains("{")
    df.select(col(idCol),
      nLines.as("n_lines"),
      nKept.as("n_kept_lines"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      (!hasLorem && !hasBrace && nKept >= minKeptLines).as("keep"))
  }

  /** CCNet perplexity-bucket filter (Wenzek et al. 2020): score every doc
    * with the corpus' own unigram LM ([[lmNllScores]]), split each
    * language into head / middle / tail perplexity terciles, KEEP head +
    * middle, drop the tail — the cleaning step CCNet applies per language
    * before training-data export. Boundary rule is value-based and
    * deterministic: with n docs in a language, `cut_keep` is the
    * (n - floor(n/3))-th smallest score and `cut_head` the ceil(n/3)-th;
    * a doc stays iff `score <= cut_keep` (ties at the boundary all stay,
    * on every engine, regardless of sort stability).
    *
    * Scale shape: threshold derivation runs on the per-(lang, score)
    * HISTOGRAM — a key-equality aggregation, then a cumulative window
    * over distinct rounded scores (4-decimal scores, so the window input
    * is tiny next to the corpus) — and the per-language cutoffs broadcast
    * back for a MAP-ONLY corpus pass. No per-document window, no
    * one-task-per-language funnel over raw docs. At 100 TB, production
    * CCNet substitutes static per-language cutoffs (or percentile_approx)
    * for the exact histogram walk; the corpus side is unchanged. */
  def perplexityBucketFilter(df: DataFrame, idCol: String, textCol: String,
      langCol: String): DataFrame = {
    val scores = lmNllScores(df, idCol, textCol)
    val withLang = df.select(col(idCol).as("doc_id"), col(langCol).as("lang"))
      .join(scores, Seq("doc_id"))
    val hist = withLang.groupBy(col("lang"), col("lm_nll"))
      .agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("lm_nll")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy("lang")
    val th = hist
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .groupBy(col("lang")).agg(
        min(when(col("cum") >= col("n") - floor(col("n") / lit(3)),
          col("lm_nll"))).as("cut_keep"),
        min(when(col("cum") >= floor((col("n") + lit(2)) / lit(3)),
          col("lm_nll"))).as("cut_head"))
    withLang.join(broadcast(th), Seq("lang"))
      .filter(col("lm_nll") <= col("cut_keep"))
      .select(col("doc_id"), col("lang"), col("lm_nll"),
        when(col("lm_nll") <= col("cut_head"), lit("head"))
          .otherwise(lit("middle")).as("ppl_bucket"))
  }

  /** Hashed-feature linear quality classifier — fastText-inference shape
    * (Joulin et al. 2016): each token hashes into one of `dim` buckets
    * (`xxhash64`, Spark's codegen'd hash — no UDF) and the doc's logit is
    * the mean bucket weight. Weights here are a fixed deterministic
    * integer formula standing in for a trained vector — in production the
    * trained `Array[Int]` (milli-units) broadcasts and `element_at`
    * replaces the formula; everything else (hashing, aggregation,
    * thresholding) is exactly this plan. All arithmetic is integer until
    * one final double division of exact operands, so the score is
    * bit-identical across engines and partitionings. Entirely per-row
    * (higher-order functions, whole-stage codegen): zero shuffles, the
    * map-only classifier pass a 100 TB quality gate needs. */
  def hashedQualityScore(df: DataFrame, idCol: String, textCol: String,
      dim: Int = 1024): DataFrame = {
    val ts = tokens(col(textCol))
    df.select(col(idCol).as("doc_id"), ts.as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), size(col("ts")).as("n_tokens"),
        aggregate(
          transform(col("ts"), t => {
            val b = pmod(xxhash64(t), lit(dim.toLong))
            pmod(b * lit(2654435761L) + lit(12345L), lit(2001L)) - lit(1000L)
          }),
          lit(0L), (acc, x) => acc + x).as("score_milli"))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        // UNROUNDED on purpose: both operands are exact integers, so the
        // one IEEE division is correctly-rounded and bit-identical on any
        // engine — whereas round(x, 6) diverges on exact .5 boundaries
        // (Spark rounds the double's shortest DECIMAL repr half-up;
        // DuckDB rounds the BINARY value, e.g. -12117/48000 = -0.2524375
        // whose nearest double is a hair below the tie — caught by the
        // sf0.1 oracle, t20)
        (col("score_milli").cast("double") /
          (col("n_tokens") * lit(1000.0))).as("quality_logit"),
        (col("score_milli") >= 0L).as("keep"))
  }

  /** One-pass closed-form TRAINING for the hashed linear classifier
    * ([[hashedQualityScore]]'s production twin): over the labeled subset
    * (`doc_id % labeledMod == 0`, label = doc has >= `labelMinTokens`
    * tokens — stand-in for human labels; swap the predicate for a real
    * label column), each hash bucket's weight is its smoothed positive
    * rate in milli-units, `(1000 * (pos + 1)) div (tot + 2) - 500` — the
    * Naive-Bayes-flavored closed form, integer end-to-end so any engine
    * (and the DuckDB oracle) replays it bit-exactly. One explode + one
    * map-combinable aggregate over <= `dim` groups; the result is a
    * <= dim-row weight table meant to be PERSISTED as a sidecar and
    * broadcast at inference ([[hashedQualityScoreTrained]]). */
  def trainHashedQualityWeights(df: DataFrame, idCol: String,
      textCol: String, dim: Int = 1024, labeledMod: Int = 5,
      labelMinTokens: Int = 40): DataFrame =
    df.filter(pmod(col(idCol), lit(labeledMod.toLong)) === 0)
      .select(tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
      .select((size(col("ts")) >= labelMinTokens).as("y"),
        explode(col("ts")).as("t"))
      .select(pmod(xxhash64(col("t")), lit(dim.toLong)).as("b"), col("y"))
      .groupBy("b")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
        count(lit(1)).as("tot"))
      .select(col("b"),
        (expr("(1000 * (pos + 1)) div (tot + 2)") - 500L).as("w"))

  /** Inference with a TRAINED weight vector (index = hash bucket,
    * length `dim`): the same zero-shuffle map-only plan as
    * [[hashedQualityScore]] — the weights arrive as an array literal
    * (broadcast with the task binary, `element_at` per token inside one
    * whole-stage-codegen'd projection), so the 100 TB corpus pass stays
    * scan-shaped. An untrained bucket must carry weight 0 (the closed
    * form's empty-bucket value: `1000*1 div 2 - 500`). */
  def hashedQualityScoreTrained(df: DataFrame, idCol: String,
      textCol: String, weights: Seq[Long]): DataFrame = {
    val dim = weights.length
    val warr = typedlit(weights)
    df.select(col(idCol).as("doc_id"), tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"), size(col("ts")).as("n_tokens"),
        aggregate(
          transform(col("ts"), t => element_at(warr,
            pmod(xxhash64(t), lit(dim.toLong)).cast("int") + 1)),
          lit(0L), (acc, x) => acc + x).as("score_milli"))
      .select(col("doc_id"), col("n_tokens").cast("int").as("n_tokens"),
        // unrounded exact-integer division — see [[hashedQualityScore]]
        (col("score_milli").cast("double") /
          (col("n_tokens") * lit(1000.0))).as("quality_logit"),
        (col("score_milli") >= 0L).as("keep"))
  }

  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks).cast("double")
    val meanLen = (length(text).cast("double") - (n - 1.0)) / n // chars sans separators
    val stopRatio = size(array_intersect(toks, typedlit(stopwords("en")))).cast("double") /
      greatest(n, lit(1.0))
    val lengthScore = when(n >= 20 && n <= 1000, 1.0).when(n >= 5, 0.5).otherwise(0.0)
    val tokenLenScore = when(meanLen >= 3.0 && meanLen <= 10.0, 1.0).otherwise(0.5)
    val stopScore = when(stopRatio > 0.02, 1.0).otherwise(0.5)
    round((lengthScore * 0.4 + tokenLenScore * 0.3 + stopScore * 0.3), 4)
  }
}
