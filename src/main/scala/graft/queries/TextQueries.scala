package graft.queries

import graft.{ScratchDirs, Tables}
import graft.functions.TextFunctions._
import graft.operators.Dedup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication operator coverage over `documents`, with
  * exact DuckDB oracles. All hashes are integer polynomial rolling hashes
  * (mod prime), so both engines compute bit-identical signatures.
  */
object TextQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.loadSpread(s, dir, name) // spread under-split scans (Tables doc)

  /** documents ∪ copies of every 10th doc — a deterministic corpus WITH
    * duplicates, since the synthetic one has none. Copy ids offset by
    * max(doc_id)+1, NOT a constant: a fixed +100000 collided with real
    * ids once a replica corpus passed 100k docs, silently merging two
    * different texts under one id and breaking every id-keyed winner
    * rule downstream (caught by the 30× correctness run — c1's row count
    * diverged from its twin). One bounded scalar agg on the driver; the
    * oracle derives the same offset with a subquery. */
  private def withDups(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val off = d.agg(max(col("doc_id").cast("long"))).head().getLong(0) + 1
    d.select(col("doc_id"), col("text"))
      .union(d.where(col("doc_id") % 10 === 0)
        .select(col("doc_id") + off, col("text")))
  }

  /** Deterministically messy crawl URLs over `documents` — mixed-case
    * schemes/hosts, userinfo, default and explicit ports, www/www2
    * prefixes, empty paths, unsorted + tracking query params, fragments,
    * and a scheme-less passthrough — shared VERBATIM with the x40/d14
    * twins (C4Injections-style). The variation axes are chosen so the
    * identity-bearing parts (scheme class, visible port, path, surviving
    * params) repeat across docs while the canonicalized-away parts
    * (case, userinfo, www label, tracking params, fragment) differ —
    * i.e. the corpus contains real URL-dedup collisions. */
  private def urlFab(id: Column): Column = {
    val scheme = when(id % 3 === 0, lit("HTTP"))
      .when(id % 3 === 1, lit("https")).otherwise(lit("hTTp"))
    val user = when(id % 7 === 0, lit("bob:secret@")).otherwise(lit(""))
    val www = when(id % 2 === 0, lit("WWW."))
      .when(id % 5 === 0, lit("www2.")).otherwise(lit(""))
    val host = concat(lit("Site"), (id % 41).cast("string"), lit(".Example.COM"))
    val port = when(id % 4 === 0, lit(":80")).when(id % 4 === 1, lit(":443"))
      .when(id % 4 === 2, lit(":8080")).otherwise(lit(""))
    val path = when(id % 6 === 0, lit(""))
      .otherwise(concat(lit("/P/"), (id % 13).cast("string")))
    val query = when(id % 9 === 0, lit(""))
      .when(id % 9 === 3, lit("?utm_campaign=C"))
      .otherwise(concat(lit("?utm_source=Feed&b="), (id % 5).cast("string"),
        lit("&a="), (id % 3).cast("string"),
        when(id % 6 === 1, lit("&gclid=XYZ")).otherwise(lit(""))))
    val frag = when(id % 8 === 0, lit("#Sec2")).otherwise(lit(""))
    when(id % 23 === 0, lit("relative/Path?b=2&a=1"))
      .otherwise(concat(scheme, lit("://"), user, www, host, port, path,
        query, frag))
  }

  /** Fabricated crawl page for the x42/x43 gates: 2-3 anchors whose
    * display text exercises the extraction chain (mixed-case tag, inner
    * tags, whitespace runs). Replayed verbatim by [[urlPageFabSql]]. */
  private def urlPageFab(id: Column): Column = concat(
    lit("<html><body><a href=\""), urlFab(id + 1),
    lit("\">site "), ((id + 1) % 7).cast("string"),
    lit("</a> text <a class='m' href='"), urlFab(id * 2 + 3),
    lit("'>read <b>more</b></a>"),
    when(id % 3 === 0,
      concat(lit("<A HREF=\""), urlFab(id + 7),
        lit("\">  spaced\n  anchor </A>"))).otherwise(lit("")),
    lit("</body></html>"))

  private val langOrder = Seq("de", "en", "es", "fr", "zh")

  /** Marker phrases repeated enough to dominate the base text's English
    * marker counts; shared verbatim by the Spark query and the oracle. */
  private val LangBoosts: Map[String, String] = Map(
    "fr" -> (" le la les de et un une" * 10),
    "es" -> (" el los las y un una" * 10),
    "de" -> (" der die das und ist ein eine" * 10),
    "zh" -> (" 的 是 了 在 和 有 我" * 10))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F15: the pure-SQL surface — the same native expressions every other
    // gate reaches through the Column API, here resolved by the PARSER via
    // GraftExtensions' FunctionRegistry entries over a temp view. Proves a
    // SQL-text user of the library (spark.sql, JDBC, notebook %%sql) gets
    // identical integer-exact semantics, including the constant-argument
    // fold (shingle width 5) through the SQL path.
    // SQL-text literal rule: write float constants in scientific form
    // (`1e6`), never `1000000.0` — Spark's SQL parser types the latter as
    // DECIMAL (unlike the Column API's `lit(1000000.0)`, a Double), which
    // silently retypes downstream arithmetic to DecimalType.
    "f15_sql_surface" -> ((s, dir) => {
      t(s, dir, "documents").createOrReplaceTempView("graft_docs")
      s.sql("""SELECT doc_id,
              |  floor(string_entropy(text) * 1e6 + 0.5) / 1e6
              |    AS entropy,
              |  poly_hash(text) AS text_hash,
              |  token_length_sum(filter(split(text, '\\s+'),
              |                          x -> length(x) > 0)) AS tok_chars,
              |  cast(size(shingle_hashes(text, 5)) AS BIGINT) AS n_shingles
              |FROM graft_docs""".stripMargin)
    }),

    // X1: token counting — whitespace tokens plus a BPE-ish subword regex
    // (letter runs / digit runs / single punctuation), and char count.
    "x1_tokens" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        size(regexp_extract_all(col("text"),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_subtokens"),
        length(col("text")).as("n_chars"))),

    // X2: quality scoring (length, token shape, stopword density) — the
    // same TextFunctions.qualityScore the curation pipeline uses, plus
    // its components.
    "x2_quality" -> ((s, dir) => {
      val staged = t(s, dir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val nTok = size(col("toks")).cast("double")
      val avgLen =
        graft.functions.TokenExprs.token_length_sum(col("toks")) / nTok
      val stopRatio = markerCount(col("toks"), EnglishStopwords).cast("double") / nTok
      // zero-token guard on every ratio: 0/0 = NaN rounds differently per
      // engine; the oracle carries the same CASE WHEN len(tk)=0 guard.
      val guard0 = (c: org.apache.spark.sql.Column) =>
        when(size(col("toks")) === 0, lit(0.0)).otherwise(c)
      staged.select(col("doc_id"),
        nTok.cast("long").as("n_tokens"),
        guard0(floor((avgLen) * 1000000 + 0.5) / 1000000.0).as("avg_token_len"),
        guard0(floor((stopRatio) * 1000000 + 0.5) / 1000000.0).as("stopword_ratio"),
        (floor((qualityScore(col("toks"))) * 1000000 + 0.5) / 1000000.0).as("quality"))}),

    // X3: language-ID heuristic — argmax marker-token count, deterministic
    // tie-break by language code order. Marker phrases are injected for
    // some doc_id buckets so every language branch actually fires on the
    // gate corpus (the raw synthetic text only ever yields en/de).
    "x3_langid" -> ((s, dir) => {
      val boosted = t(s, dir, "documents")
        .withColumn("txt", concat(col("text"),
          when(col("doc_id") % 7 === 1, lit(LangBoosts("fr")))
            .when(col("doc_id") % 7 === 2, lit(LangBoosts("es")))
            .when(col("doc_id") % 7 === 3, lit(LangBoosts("de")))
            .when(col("doc_id") % 7 === 4, lit(LangBoosts("zh")))
            .otherwise(lit(""))))
      boosted.select(col("doc_id"), tokens(col("txt")).as("toks"))
        .select(col("doc_id"), langPredict(col("toks")).as("lang_pred"))}),

    // X4: document fingerprint (rolling content hash).
    "x4_fingerprint" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        polyHash(col("text")).as("content_hash"))),

    // D1: exact dedup by content hash on the constructed dup corpus.
    "d1_exact_dedup" -> ((s, dir) =>
      Dedup.exactDuplicates(withDups(s, dir), col("doc_id"), col("text"))),

    // D2: exact n-gram Jaccard near-dup pairs. 5-gram shingles: on this
    // small-vocabulary corpus 3-grams are shared by ~half of all doc pairs
    // (no discriminative power, quadratic join blowup); 5-grams are ~95%
    // unique, so the inverted index only pairs genuinely similar docs.
    // maxShingleFreq = MaxValue: the oracle computes exact Jaccard with no
    // df-cut, so the gate query must not cut either (the cut is a scale
    // knob for production corpora, exercised in OperatorsSpec).
    "d2_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), n = 5, threshold = 0.2,
        maxShingleFreq = Long.MaxValue)),

    // D11: spelling-variant pairs at edit distance EXACTLY 1 via
    // deletion-neighborhood blocking (SymSpell/FastSS) — never an
    // all-pairs join. The synthetic corpus vocabulary carries no natural
    // typos, so the gate injects them deterministically (an 'x'-
    // substitution and a first-char deletion per token) and BOTH engines
    // replay the same injection; the twin then runs the all-pairs
    // levenshtein join — equality proves the blocking loses nothing.
    "d11_edit_pairs" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(split(lower(col("text")), "\\s+")).as("tok"))
        .where(length(col("tok")) >= 4)
        .distinct()
      val vocab = toks
        .union(toks.select(
          concat(lit("x"), expr("substring(tok, 2, length(tok))")).as("tok")))
        .union(toks.where(length(col("tok")) >= 5)
          .select(expr("substring(tok, 2, length(tok))").as("tok")))
      Dedup.editDistanceOnePairs(vocab, col("tok"))}),

    // D3: MinHash + LSH banding candidate pairs (8 hashes, 4 bands x 2).
    "d3_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(t(s, dir, "documents"),
        col("doc_id"), col("text"), n = 5, bands = 4, rowsPerBand = 2)),

    // D4: 16-bit SimHash fingerprints.
    "d4_simhash" -> ((s, dir) =>
      Dedup.simHashDocs(t(s, dir, "documents"),
        col("doc_id"), col("text"), bits = 16)),

    // X8: TF-IDF — raw-count tf, corpus df, ln(N/df) weighting.
    "x8_tfidf" -> ((s, dir) =>
      graft.operators.Corpus.tfidf(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    // X7: benchmark decontamination — corpus docs sharing any 5-gram with
    // the (tiny, broadcast) benchmark subset. 5-grams, not the standard
    // 13, so the harness corpus actually produces overlaps beyond the
    // benchmark docs themselves.
    "x7_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.contaminatedDocs(docs, col("doc_id"), col("text"),
        docs.where(col("doc_id") % 97 === 0), col("text"), n = 5)}),

    // D6: near-dup cluster assignment — connected components over the d2
    // pair graph (cluster = min reachable doc_id).
    "d6_near_dup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(t(s, dir, "documents"),
          col("doc_id"), col("text"), n = 5, threshold = 0.2,
          maxShingleFreq = Long.MaxValue))),

    // C1: the full curation pipeline (quality filter → lang filter →
    // exact dedup → near-dup removal → split) on the dup-bearing corpus.
    "c1_curation" -> ((s, dir) =>
      graft.pipelines.CurationPipeline.curate(
        withDups(s, dir), col("doc_id"), col("text"),
        graft.pipelines.CurationPipeline.Config(
          minQuality = 0.5, langs = Set("en"), jaccardThreshold = 0.8))),

    // X6: deterministic hash-mod sampling + train/val/test split — the
    // reproducible-split primitive (stable across engines and runs).
    "x6_hash_split" -> ((s, dir) =>
      graft.operators.Sampling.splits(t(s, dir, "documents"),
        col("doc_id"), Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split").agg(count(lit(1)).as("n"),
          min("doc_id").as("min_id"))),

    // X9: PII redaction — emails / IPv4s / long digit runs injected per
    // doc bucket (the synthetic corpus has none), redacted to typed tags
    // with a per-doc match count.
    "x9_pii_redact" -> ((s, dir) => {
      val pii = t(s, dir, "documents").withColumn("txt", concat(col("text"),
        when(col("doc_id") % 5 === 0,
          lit(" contact alice.smith+x@mail-host.example.com now"))
          .when(col("doc_id") % 5 === 1, lit(" src 10.42.7.193 logged"))
          .when(col("doc_id") % 5 === 2, lit(" acct 4111111111111111 ref"))
          .otherwise(lit(""))))
      pii.select(col("doc_id"), redactPii(col("txt")).as("clean"),
        piiCount(col("txt")).as("n_pii"))}),

    // X10: within-doc repetition stats — the repetition-based quality
    // signal (top-token ratio flags boilerplate/spam).
    "x10_repetition" -> ((s, dir) =>
      graft.operators.Corpus.repetitionStats(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    // X11: sequence packing — docs laid into 2000-token context windows
    // per source stream, each assigned the pack its first token lands in.
    "x11_seq_pack" -> ((s, dir) =>
      graft.operators.Corpus.packSequences(t(s, dir, "documents"),
        col("doc_id"), col("source"), size(tokens(col("text"))),
        budget = 2000L)),

    // X11b: the packed training rows themselves — per (source, pack),
    // member texts joined in id order; hashed for the compare (pack_text
    // is big, and the hash twin proves byte equality anyway).
    "x11b_pack_concat" -> ((s, dir) =>
      graft.operators.Corpus.packedTexts(t(s, dir, "documents"),
        col("doc_id"), col("source"), col("text"), size(tokens(col("text"))),
        budget = 2000L)
        .select(col("part"), col("pack_id"), col("n_docs"),
          col("total_tokens"), polyHash(col("pack_text")).as("pack_hash"))),

    // X11c: first-fit-decreasing packing — the token-efficiency variant
    // (no straddling docs, largest-first placement); oracle is a DuckDB
    // recursive CTE running the SAME deterministic FFD, doc by doc.
    "x11c_ffd_pack" -> ((s, dir) =>
      graft.operators.Corpus.packSequencesFfd(t(s, dir, "documents"),
        col("doc_id"), col("source"), size(tokens(col("text"))),
        budget = 2000L)),

    // X12: class balancing — deterministic per-language downsample to 40
    // docs (rank by key hash inside each class).
    "x12_class_balance" -> ((s, dir) =>
      graft.operators.Sampling.balanceClasses(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"), target = 40)),

    // C2: Gopher-style rule battery. The synthetic corpus is uniformly
    // clean, so per-bucket injections make every rule fire somewhere:
    // %13=3 gets '#' runs (symbol ratio), %13=5 digit-only tokens (alpha
    // ratio), %13=7 nine bullet lines (bullet fraction), %13=9 two
    // ellipsis-terminated lines (ellipsis fraction); the token-count floor
    // discriminates naturally (docs are 10-99 tokens vs the 50 floor).
    "c2_gopher_rules" -> ((s, dir) =>
      graft.operators.Corpus.gopherStats(
        t(s, dir, "documents").withColumn("txt",
          concat(col("text"),
            when(col("doc_id") % 13 === 3, lit(GopherInjections("symbols")))
              .when(col("doc_id") % 13 === 5, lit(GopherInjections("digits")))
              .when(col("doc_id") % 13 === 7, lit(GopherInjections("bullets")))
              .when(col("doc_id") % 13 === 9, lit(GopherInjections("ellipsis")))
              .otherwise(lit("")))),
        col("doc_id"), col("txt"))),

    // X18: C4 line+page cleaning on a fixture that exercises every rule:
    // appended multi-line tails give doc_id%17==2 a page with 3 keepable
    // lines plus two too-short ones (page kept), %17==5 a javascript line
    // that drops the page below the 3-line floor, %17==8 a lorem-ipsum
    // page kill, %17==11 a curly-brace page kill; all other docs are one
    // unterminated line (0 kept, page dropped).
    // X27: fixed-window chunking with overlap (window 16, stride 12 →
    // 4-token overlap) — the RAG/long-doc context-window split. The
    // chunk count is a closed form of the token count, so the twin
    // replays every boundary; chunk text must match byte for byte.
    "x27_chunk_overlap" -> ((s, dir) =>
      graft.operators.Corpus.chunkDocuments(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        window = 16, stride = 12)),

    "x18_c4_filter" -> ((s, dir) =>
      graft.operators.Corpus.c4LineFilter(
        t(s, dir, "documents").withColumn("txt",
          concat(col("text"),
            when(col("doc_id") % 17 === 2, lit(C4Injections("mixed")))
              .when(col("doc_id") % 17 === 5, lit(C4Injections("js")))
              .when(col("doc_id") % 17 === 8, lit(C4Injections("lorem")))
              .when(col("doc_id") % 17 === 11, lit(C4Injections("brace")))
              .otherwise(lit("")))),
        col("doc_id"), col("txt"))),

    // ST1: the streaming surface behind the driver's oracle — the SAME
    // C4 clean as x18, but executed as a Structured Streaming job: a
    // file-source stream over the documents parquet, the map-only
    // c4LineFilter transform (stream-safe: no shuffle, no state), one
    // AvailableNow drain into a parquet sink, result read back. The
    // oracle is x18's DuckDB twin verbatim, so stream == batch == SQL is
    // hash-checked by the driver, not just spec-asserted. Temp sink +
    // checkpoint dirs are per-invocation (bench reps don't collide).
    "st1_stream_c4_parity" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      // FileStreamSource wants a DIRECTORY; the glob filter narrows the
      // sf dir to the one table file without copying it anywhere
      val streamed = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
        .withColumn("txt",
          concat(col("text"),
            when(col("doc_id") % 17 === 2, lit(C4Injections("mixed")))
              .when(col("doc_id") % 17 === 5, lit(C4Injections("js")))
              .when(col("doc_id") % 17 === 8, lit(C4Injections("lorem")))
              .when(col("doc_id") % 17 === 11, lit(C4Injections("brace")))
              .otherwise(lit(""))))
      val cleaned = graft.operators.Corpus.c4LineFilter(
        streamed, col("doc_id"), col("txt"))
      val out = ScratchDirs.create("st1_out").toString
      val ckpt = ScratchDirs.create("st1_ckpt").toString
      cleaned.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.read.parquet(out)}),

    // ST2: the STATEFUL streaming surface behind the driver's oracle —
    // exact dedup executed as a real Structured Streaming job through
    // [[graft.streaming.StreamingScore.dedupStream]]'s
    // flatMapGroupsWithState path (md5 content keys in the state store,
    // event-time watermark, sliding-horizon timeouts). The d1-style dup
    // injection happens stream-side via self-union; the single-file
    // AvailableNow source makes the batch winner deterministic (min
    // (ts, doc_id) per key, and ts is monotone in doc_id), so the DuckDB
    // twin is plain min(doc_id) per text. st1 covers the stateless
    // map-only stream surface; this covers custom state.
    "st2_stream_dedup" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val off = t(s, dir, "documents")
        .agg(max(col("doc_id").cast("long"))).head().getLong(0) + 1
      val base = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      val dup = base.select(col("doc_id").cast("long").as("doc_id"), col("text"))
        .union(base.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + off).cast("long"), col("text")))
      import s.implicits._
      // ts = doc_id seconds past epoch+1day: monotone in doc_id (so the
      // min-(ts,id) winner IS min(doc_id), the oracle's form) and never
      // AT epoch 0 — Spark's initial watermark is 0 ms and the stateful
      // operator drops rows at-or-before it as late, which would
      // silently hand doc 0's win to its duplicate copy
      val docs = dup
        .select(col("doc_id"), col("text"),
          (col("doc_id") + lit(86400L)).cast("timestamp").as("ts"))
        .as[graft.streaming.StreamingScore.StreamDoc]
      val first = graft.streaming.StreamingScore.dedupStream(docs)
        .select(col("doc_id"), md5(col("text")).as("content_key"))
      val out = ScratchDirs.create("st2_out").toString
      val ckpt = ScratchDirs.create("st2_ckpt").toString
      first.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.read.parquet(out)}),

    // D7: duplicated-span profile (exact-substring dedup signal) on the
    // dup-bearing corpus: per doc, how many of its 5-gram spans occur
    // anywhere else in the corpus. The injected exact duplicates give the
    // copies dup_ratio 1.0; cross-doc shared phrases surface partially.
    "d7_dup_spans" -> ((s, dir) =>
      Dedup.duplicatedSpans(withDups(s, dir), col("doc_id"), col("text"),
        n = 5)),

    // X13: corpus top-20 3-grams — the boilerplate-detection cut list.
    "x13_top_ngrams" -> ((s, dir) =>
      graft.operators.Corpus.topNgrams(t(s, dir, "documents"),
        col("text"), n = 3, k = 20)),

    // D12: PPJoin-style prefix-filtered set-similarity self-join — the
    // principled candidate generator (rarest-first canonical token order,
    // only the first s−⌈t·s⌉+1 tokens indexed, mutual-prefix + length
    // filters) next to d2's df-cut heuristic; per-mille integer
    // thresholds end to end, so the twin replays every decision.
    // threshold 0.9: the synthetic docs are heavily templated (74% of ALL
    // sf0.01 pairs clear 0.5), so lower cuts saturate the gate with
    // fixture noise; at 0.9 the prefix is a single-digit token slice and
    // the output is the genuine near-dup mass (9k pairs at sf0.01)
    "d12_prefix_jaccard" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(t(s, dir, "documents"), col("doc_id"),
        col("text"), thresholdMilli = 900)),

    // D12b: the prefix filter on a BOUNDED-CLUSTER-WIDTH corpus — the
    // scale-proof variant. The raw fixture's 25-token templates make
    // near-dup clusters hundreds wide (965k pairs at sf0.1 — output
    // quadratic in template width, which is a FIXTURE property, not an
    // operator cost), so d12 can't demonstrate its Σdf_prefix² candidate
    // bound at replicas. This corpus rebuilds each doc-id DECADE as one
    // genuine near-dup cluster: all 10 docs share the decade leader's
    // (min doc_id) text plus a per-doc variant token (within-decade
    // Jaccard T/(T+2) >= 0.9 for the fixture's ~25-token docs), and
    // every 4th token carries a decade tag so CROSS-decade Jaccard caps
    // at ~0.6 < 0.9 even when two decades drew the same template. Every
    // cluster is therefore exactly <= 10 wide and pair output is
    // corpus-LINEAR at any replica factor — a real corpus's shape. Same
    // operator, same threshold; this entry rides the 30x/100x replica
    // suites where d12 is documented out.
    "d12b_prefix_clean" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val dec = (col("doc_id") / 10).cast("long")
      val leaders = docs.groupBy(dec.as("dec"))
        .agg(min(struct(col("doc_id"), col("text"))).as("m"))
        .select(col("dec"), col("m.text").as("base"))
      val corpus = docs.select(col("doc_id"), dec.as("dec"),
          (col("doc_id") % 10).cast("string").as("v"))
        .join(leaders, "dec")
        .select(col("doc_id"), concat(
          concat_ws(" ", transform(tokens(col("base")), (x, j) =>
            when(j % 4 === 1, concat(lit("q"), col("dec").cast("string"),
              lit("z"), x)).otherwise(x))),
          lit(" v"), col("v")).as("text"))
      Dedup.prefixJaccardPairs(corpus, col("doc_id"), col("text"),
        thresholdMilli = 900)}),

    // X28: PMI-ranked collocations with the log replaced by its monotone
    // integer argument (lift_micro) — vocab-curation association mining
    // with a bit-exact twin (no engine-divergent ln anywhere).
    "x28_pmi_collocations" -> ((s, dir) =>
      graft.operators.Corpus.pmiCollocations(t(s, dir, "documents"),
        col("text"), minCount = 5, k = 30)),

    // D8: dedup retention — the decision step after clustering: keep the
    // highest-quality doc per near-dup cluster (lowest id on ties);
    // unclustered docs are singleton keeps. Complete per-doc decision.
    "d8_retain_best" -> ((s, dir) =>
      Dedup.retainBest(t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 5, threshold = 0.2, maxShingleFreq = Long.MaxValue)),

    // D9: SimHash near-dup pairs via 4-band blocking over the 16-bit
    // fingerprints, exact-popcount verified (Hamming <= 3). The oracle
    // computes ALL pairs within the radius directly, so the gate also
    // proves the pigeonhole claim: banding with maxHamming < bands loses
    // no pairs. Runs on the dup-bearing corpus so Hamming-0 pairs exist.
    "d9_simhash_pairs" -> ((s, dir) =>
      Dedup.simHashNearDupPairs(withDups(s, dir), col("doc_id"), col("text"),
        bits = 16, bands = 4, maxHamming = 3)),

    // D9b: the WIDE SimHash configuration — the production shape: a
    // 60-bit fingerprint (two packed 30-bit polynomial hashes; see
    // wideTokenHash) in 4×15-bit bands, Hamming <= 3. The 16-bit gate
    // (d9) proves pigeonhole recall in a deliberately saturating space;
    // this one proves the width a real corpus needs: 15-bit band keys
    // keep buckets sparse, so candidates stay near the true-pair count
    // instead of the d9 fixture's quadratic collision load. Oracle is
    // the same all-pairs twin at 60 bits.
    "d9b_simhash_wide" -> ((s, dir) =>
      Dedup.simHashNearDupPairs(withDups(s, dir), col("doc_id"), col("text"),
        bits = 60, bands = 4, maxHamming = 3,
        tokenHash = wideTokenHash)),

    // D13: GROUP-DIRECT SimHash clustering — the consumer-shaped form:
    // cluster keys per doc with components in FINGERPRINT space, so an
    // identical-fingerprint mega-group (a million-copy template page)
    // costs linear rows end to end where the d9 pairs contract must
    // expand ~n²/2 Hamming-0 pairs. Oracle: recursive closure over the
    // all-pairs fingerprint graph, docs attached by fingerprint.
    "d13_simhash_clusters" -> ((s, dir) =>
      Dedup.simHashClusters(withDups(s, dir), col("doc_id"), col("text"),
        bits = 16, bands = 4, maxHamming = 3)),

    // D13b: group-direct clustering at the WIDE production width (60-bit
    // wideTokenHash fingerprints, 4×15-bit bands — d9b's space): the
    // non-saturating configuration whose fingerprint graph stays sparse,
    // so this is the variant that rides the replica suites (d13's 16-bit
    // space saturates at corpus scale like d9's).
    "d13b_simhash_clusters_wide" -> ((s, dir) =>
      Dedup.simHashClusters(withDups(s, dir), col("doc_id"), col("text"),
        bits = 60, bands = 4, maxHamming = 3, tokenHash = wideTokenHash)),

    // D10: incremental near-dup — the daily-ingest shape: a new batch
    // (doc_id % 11 == 0) LSH-checked against the existing corpus + itself,
    // never corpus×corpus.
    "d10_incremental_lsh" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalLshPairs(docs.where(col("doc_id") % 11 === 0),
        docs.where(col("doc_id") % 11 =!= 0), col("doc_id"), col("text"))}),

    // X14: data-mixture construction — per-language target counts in a
    // stable hash-rank order (the mixing-weights step; zh's target
    // exceeds nothing: every class here holds >= its target).
    "x14_mixture" -> ((s, dir) =>
      graft.operators.Sampling.mixture(
        t(s, dir, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"),
        Map("en" -> 60L, "de" -> 30L, "es" -> 20L, "fr" -> 10L, "zh" -> 5L))),

    // X15: leakage-safe splits — near-dup clusters land whole in one
    // split (hash-mod of the CLUSTER id, 80/10/10).
    "x15_cluster_split" -> ((s, dir) =>
      Dedup.leakageSafeSplits(t(s, dir, "documents"), col("doc_id"),
        col("text"), n = 5, threshold = 0.2,
        shares = Seq("train" -> 80, "val" -> 10, "test" -> 10),
        maxShingleFreq = Long.MaxValue)),

    // X7b: FUZZY decontamination — MinHash agreement >= 0.5 against the
    // same benchmark subset x7 uses exactly; catches paraphrase-level
    // contamination the verbatim n-gram rule misses.
    "x7b_fuzzy_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.fuzzyContaminatedDocs(docs, col("doc_id"), col("text"),
        docs.where(col("doc_id") % 97 === 0), col("doc_id"), col("text"),
        n = 5, bands = 4, rowsPerBand = 2, minEstJaccard = 0.5)}),

    // X16: bigram-LM quality score — corpus-trained add-one-smoothed
    // bigram NLL per doc (the perplexity-filter signal).
    "x16_lm_score" -> ((s, dir) =>
      graft.operators.Corpus.bigramLmScores(t(s, dir, "documents"),
        col("doc_id"), col("text"))),

    // X17: DSIR-style data selection — the 25 non-English-pool docs whose
    // hashed-bigram feature distribution is most English-like (target =
    // lang 'en'), by smoothed log importance ratio. Deterministic rank
    // replaces the paper's Gumbel resampling, so the oracle is exact.
    "x17_dsir_select" -> ((s, dir) =>
      graft.operators.Sampling.dsirSelect(t(s, dir, "documents"),
        col("doc_id"), col("text"), col("lang") === "en",
        numBuckets = 1024, topK = 25)),

    // X19: exact-substring span REMOVAL (Lee et al. 2021 ExactSubstr,
    // all-occurrences policy) — every 5-token span occurring more than
    // once in the dup-bearing corpus is cut and the survivors rejoined.
    // The injected whole-doc copies (AND their originals) collapse to
    // clean_text = ''; cross-doc shared phrases are cut mid-document.
    "x19_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(withDups(s, dir), col("doc_id"),
        col("text"), n = 5)),

    // X20: corpus-level exact LINE dedup (the RefinedWeb boilerplate
    // rule): first occurrence by (doc_id, pos) wins, every later copy
    // drops, docs reassembled from their surviving lines. "Lines" are
    // fabricated as 8-token groups (the synthetic corpus has no
    // newlines) — the injected doc copies lose every line.
    "x20_line_dedup" -> ((s, dir) => {
      val staged = withDups(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("tk"))
      val lines = when(size(col("tk")) === 0, array().cast("array<string>"))
        .otherwise(transform(
          sequence(lit(0), floor((size(col("tk")) - 1) / 8).cast("int")),
          g => array_join(slice(col("tk"), g * 8 + 1, lit(8)), " ")))
      Dedup.dedupLines(staged, col("doc_id"), lines)}),

    // X21: temperature-scaled mixture targets (mT5 / XLM-R multilingual
    // sampling, α = 0.3): per-language weights n^α normalized, integer
    // targets from a 200-doc budget, capped at class size.
    "x21_temperature_mix" -> ((s, dir) =>
      graft.operators.Sampling.temperatureTargets(t(s, dir, "documents"),
        col("lang"), alpha = 0.3, totalTarget = 200L)),

    // X22: Unicode NFC + canonical cleanup — combining sequences
    // compose, bare control chars strip, whitespace runs collapse. The
    // synthetic corpus is clean ASCII, so deterministic mess is injected
    // per doc bucket (NFD accents, a BEL, tab/double-space runs), shared
    // verbatim with the oracle.
    "x22_normalize" -> ((s, dir) => {
      val messy = t(s, dir, "documents").withColumn("txt",
        concat(col("text"), when(col("doc_id") % 4 === 0,
            lit("  Café\tx"))
          .when(col("doc_id") % 4 === 1, lit(" ab"))
          .when(col("doc_id") % 4 === 2, lit(" Århus"))
          .otherwise(lit(""))))
      messy.select(col("doc_id"),
        graft.functions.Normalize.normalizeText(col("txt")).as("clean_text"))}),

    // X23: deterministic shuffle into 4 training shards, seed "s42" —
    // shard files internally pseudo-random, positions dense from 0.
    "x23_shuffle_shards" -> ((s, dir) =>
      graft.operators.Sampling.shuffleShards(t(s, dir, "documents")
          .select(col("doc_id")), col("doc_id"), numShards = 4, seed = "s42")
        .select(col("doc_id"), col("shard"), col("pos"))),

    // X25: TRUE iterative BPE training (Sennrich 2016) — 16 ranked
    // merges from the corpus word-frequency table, each round's argmax
    // tie-broken (count desc, l, r). The oracle replays all 16 rounds as
    // materialized CTE chains over the same double-spaced representation.
    "x25_bpe_train" -> ((s, dir) => {
      val m = graft.operators.Bpe.trainMerges(t(s, dir, "documents"),
        col("text"), numMerges = 16)
      graft.operators.Bpe.mergesDf(s, m)}),

    // X26: BPE encoding with the trained merges — per-doc whitespace
    // word count vs subword token count (the number every mixture/
    // packing/budget decision actually uses).
    "x26_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val m = graft.operators.Bpe.trainMerges(docs, col("text"),
        numMerges = 16)
      graft.operators.Bpe.encode(docs, col("doc_id"), col("text"), m)}),

    // X24: keyed pseudonymization across TABLES — customer and order
    // keys replaced by the same keyed token, the join runs ON THE
    // PSEUDONYM, raw keys never appear in the output. Per-row 2-dp
    // fixed-point cents before the sum (order-independent integers).
    "x24_pseudonymize" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(
        pseudonymize(col("c_custkey"), "k7").as("pid"),
        col("c_mktsegment"))
      val ords = t(s, dir, "orders").select(
        pseudonymize(col("o_custkey"), "k7").as("pid"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
      cust.join(ords, "pid")
        .groupBy("pid", "c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), sum("cents").as("spend_cents"))}),

    // X29: weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES) — 50 docs drawn with probability ∝ n_chars, via the
    // k-smallest deterministic exponential arrival times. The twin
    // replays the hash→uniform→−ln(u)/w scoring and the (score, id)
    // total order exactly.
    "x29_weighted_sample" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          col("doc_id"), col("n_chars"), k = 50, seed = "s8")
        .select(col("doc_id"), col("n_chars"), col("es_score"))),

    // X30: fastText-style linear quality classifier scoring — hashed
    // unigram+bigram features, closed-form weight table, integer-exact
    // mean pooling, one 6-dp sigmoid. Map-only (the aggregate HOF folds
    // features per row; no explode, no join).
    "x30_quality_classifier" -> ((s, dir) =>
      graft.operators.Corpus.linearQualityScores(
        t(s, dir, "documents"), col("doc_id"), col("text"))),

    // X31: unigram-LM tokenizer SEED VOCABULARY (SentencePiece's
    // substring-count initialization): all chars + top-20 multi-char
    // substrings with integer micro log-probs — the bounded model
    // object; one substring-explode aggregation + TakeOrdered.
    "x31_unigram_vocab" -> ((s, dir) =>
      graft.operators.Unigram.buildVocab(t(s, dir, "documents"),
        col("text"), topMulti = 20, maxPieceLen = 4)),

    // X33: TF-IDF-weighted cosine all-pairs similarity over 3-gram terms
    // — the weighted upgrade of d2's set Jaccard (Bayardo-style
    // inverted-index join, integer micro weights, df-cut). Dot products
    // and norms are exact integer sums; one cosine per candidate pair.
    "x33_tfidf_cosine" -> ((s, dir) =>
      graft.operators.Corpus.tfidfCosinePairs(
        t(s, dir, "documents"), col("doc_id"), col("text"),
        n = 3, threshold = 0.5)),

    // X35: HTML → text extraction — each doc wrapped in a deterministic
    // page (script/style blocks, nested tags, the six entities; the
    // injection is shared VERBATIM with the twin, C4Injections-style),
    // then stripped back. Map-only regex chain, Java↔RE2-portable.
    "x35_html_strip" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1; " +
          "if (x &lt; 2) { x = 3; }</script><style>.c { color: red; }" +
          "</style></head><body><h1>Title "),
        col("doc_id").cast("string"),
        lit("</h1><p class=\"main\">"), col("text"),
        lit("</p><div>Tom &amp; Jerry &lt;3 &quot;quotes&quot;" +
          " &nbsp; end</div></body></html>"))
      graft.operators.Corpus.stripHtml(
        t(s, dir, "documents").select(col("doc_id"), html.as("html")),
        col("doc_id"), col("html"))}),

    // X34: unigram-LM TRAINING properties, driver-gated (the LDA
    // determinism-gate pattern): two same-input Viterbi-EM trainings
    // must be bit-identical, and the corpus NLL must be non-increasing
    // across rounds 0→1→2 (the hard-EM guarantee). The gate emits the
    // two booleans — scale-invariant, so the twin is literal TRUEs at
    // any replica factor; a regression turns a constant FALSE.
    "x34_unigram_em" -> ((s, dir) => {
      import graft.operators.Unigram
      val docs = t(s, dir, "documents")
      val nlls = (0 to 2).map { r =>
        Unigram.corpusNll(docs, col("doc_id"), col("text"),
          Unigram.trainViterbiEm(docs, col("text"), topMulti = 20,
            maxPieceLen = 4, rounds = r))
      }
      val v1 = Unigram.trainViterbiEm(docs, col("text"), 20, 4, rounds = 2)
      val v2 = Unigram.trainViterbiEm(docs, col("text"), 20, 4, rounds = 2)
      s.range(1).select(
        lit(v1.toSeq == v2.toSeq).as("runs_identical"),
        lit(nlls(0) >= nlls(1) && nlls(1) >= nlls(2)).as("nll_monotone"))}),

    // X32: unigram-LM Viterbi ENCODING with the x31 vocabulary — per-doc
    // word/piece counts + total NLL in exact micro-units. The twin
    // replays the whole DP with 64·s − np key packing (≤16-char words on
    // both sides — the packing bound; the operator itself is unbounded).
    "x32_unigram_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = graft.operators.Unigram.collectVocab(
        graft.operators.Unigram.buildVocab(docs, col("text"),
          topMulti = 20, maxPieceLen = 4))
      graft.operators.Unigram.encode(docs, col("doc_id"), col("text"),
        vocab, maxPieceLen = 4, maxWordLen = 16)}),

    // X40: archive-style URL canonicalization (the SURT family of rules)
    // over fabricated messy crawl URLs — canonical form + SURT sort key
    // per doc. Map-only codegen'd regex/array chain, zero shuffle; the
    // twin replays the fabrication and every rule in RE2.
    "x40_url_canonicalize" -> ((s, dir) => {
      val url = urlFab(col("doc_id"))
      t(s, dir, "documents").select(col("doc_id"), url.as("url"),
        graft.functions.Urls.canonical_url(url).as("canon_url"),
        graft.functions.Urls.surt_key(url).as("surt_key"))}),

    // D14: canonical-URL dedup — the same page fetched under case /
    // userinfo / www / default-port / tracking-param / fragment variants
    // collapses to one canonical key; keep-first (min doc_id) per key.
    // One map-side-combined shuffle on the canonical string.
    "d14_url_dedup" -> ((s, dir) => {
      val url = urlFab(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          graft.functions.Urls.canonical_url(url).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_dups"),
          min(col("doc_id")).as("keep_doc_id"))}),

    // X41: host-level web-graph construction — each doc becomes a page
    // (own URL = urlFab(doc_id)) with 2-3 anchor links to other docs'
    // URLs; extract hrefs, keep absolute ends, reduce to canonical
    // hosts, count edge multiplicity. The twin derives the intended
    // link targets directly from the fabrication, so the extraction +
    // canonicalization chain is checked end-to-end against an
    // independent construction.
    "x41_link_graph" -> ((s, dir) => {
      val page = concat(
        lit("<html><body><p>intro</p><a href=\""),
        urlFab(col("doc_id") + 1),
        lit("\">one</a><div><a class=\"x\" href='"),
        urlFab(col("doc_id") * 2 + 3),
        lit("'>two</a></div>"),
        when(col("doc_id") % 3 === 0,
          concat(lit("<a href=\""), urlFab(col("doc_id") + 7),
            lit("\">three</a>"))).otherwise(lit("")),
        lit("</body></html>"))
      graft.functions.Urls.linkGraph(
        t(s, dir, "documents")
          .select(col("doc_id"), urlFab(col("doc_id")).as("src_url"),
            page.as("html")),
        col("src_url"), col("html"))}),

    // X42: incoming-anchor-text aggregation — each fabricated page links
    // to 2-3 other pages with an anchor whose DISPLAY text needs the
    // full extraction chain (mixed-case <A>, inner <b> tags, embedded
    // newline/whitespace runs); targets canonicalize (variants of one
    // page pool their anchors) and each target keeps its top-2 anchors
    // by count with the anchor-asc tiebreak. The twin derives the
    // (target, cleaned-anchor) pairs straight from the fabrication and
    // replays canonicalization + the ranked window.
    "x42_anchor_text" -> ((s, dir) =>
      graft.functions.Urls.anchorTextTopK(
        t(s, dir, "documents")
          .select(col("doc_id"), urlFab(col("doc_id")).as("src_url"),
            urlPageFab(col("doc_id")).as("html")),
        col("src_url"), col("html"), k = 2)),

    // X43: per-document link-quality features over the same fabricated
    // pages — link count, external-link count (canonical-host compare
    // against the page's own host, non-absolute targets never external),
    // cleaned-anchor chars, anchor-density and external fraction in the
    // 1e-6 fixed point the other quality gates use. Map-only array
    // folds, zero shuffle. The twin rebuilds the page string itself in
    // SQL (so html_chars is checked against an independent construction)
    // and derives every count from the fabrication.
    "x43_link_density" -> ((s, dir) =>
      graft.functions.Urls.linkDensityFeatures(
        t(s, dir, "documents")
          .select(col("doc_id"), urlFab(col("doc_id")).as("src_url"),
            urlPageFab(col("doc_id")).as("html")),
        col("doc_id"), col("src_url"), col("html"))),

    // ST15: streaming crawl-frontier dedup — the x40 canonicalizer
    // composed with the st2 custom-state dedup stream: discovered URLs
    // arrive as a stream and the STATE KEY is the canonical form, so
    // case/userinfo/www/default-port/tracking/fragment variants collapse
    // cross-batch in the state store. ts is monotone in doc_id (st2's
    // argument), so the first-arrival winner IS min(doc_id) and the twin
    // is keep-first per replayed canonical form.
    "st15_stream_url_frontier" -> ((s, dir) => {
      val schema = t(s, dir, "documents").schema
      val base = s.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(dir)
      import s.implicits._
      val docs = base
        .select(col("doc_id").cast("long").as("doc_id"),
          graft.functions.Urls.canonical_url(urlFab(col("doc_id")))
            .as("text"),
          (col("doc_id") + lit(86400L)).cast("timestamp").as("ts"))
        .as[graft.streaming.StreamingScore.StreamDoc]
      val first = graft.streaming.StreamingScore.dedupStream(docs)
        .select(col("doc_id"), col("text").as("canon_url"))
      val out = ScratchDirs.create("st15_out").toString
      val ckpt = ScratchDirs.create("st15_ckpt").toString
      first.writeStream
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
        .awaitTermination()
      s.read.parquet(out)})
  )

  /** Injected tails for the C4 gate, shared verbatim with the oracle
    * (no apostrophes — they interpolate into SQL string literals). */
  private val C4Injections: Map[String, String] = Map(
    "mixed" -> ("\nThis first injected line ends with a period and carries many words." +
      "\nshort line." +
      "\nTiny." +
      "\nThe second good line also carries enough words to pass easily." +
      "\nAnd a third quality line closes the page with proper punctuation."),
    "js" -> ("\nThis page would be fine except that one line fails below." +
      "\nPlease enable javascript to view the content of this page." +
      "\nAnother perfectly reasonable sentence appears right here at the end."),
    "lorem" -> ("\nLorem ipsum dolor sit amet consectetur adipiscing elit sed do." +
      "\nThis sentence is long enough and ends with a period." +
      "\nSo is this one which also ends with a nice period." +
      "\nAnd this third one completes the trio with a period."),
    "brace" -> ("\nThis brace bearing line { is otherwise full of words." +
      "\nThis sentence is long enough and ends with a period." +
      "\nSo is this one which also ends with a nice period." +
      "\nAnd this third one completes the trio with a period."))

  /** Injected tails for the Gopher gate, shared verbatim with the oracle. */
  private val GopherInjections: Map[String, String] = Map(
    "symbols" -> (" ### ## #" * 8),
    "digits" -> (" 123456 789012 345678" * 5),
    "bullets" -> (1 to 9).map(i => s"\n- bullet item $i").mkString,
    "ellipsis" -> "\nmore text here ...\nanother trailing line ...")

  // --- shared oracle SQL fragments ---------------------------------------

  private val toksSql =
    raw"""toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM documents)""".stripMargin

  /** char-level polynomial rolling hash of expression `e` (mod prime). */
  private def hashSql(e: String): String = hashSqlM(e, 31L)

  private def hashSqlM(e: String, mult: Long): String =
    s"""list_reduce(list_prepend(0::BIGINT,
       |  [ascii(c)::BIGINT for c in string_split($e, '')]),
       |  (h, c) -> (h * $mult + c) % 1000000007)""".stripMargin

  /** The 60-bit packed two-poly token hash (wideTokenHash's twin). */
  private def wideHashSql(e: String): String =
    s"(${hashSqlM(e, 31L)} * ${1L << 30} + ${hashSqlM(e, 131L)})"

  /** The BPE training replay as a chained-CTE block: word counts → the
    * double-spaced symbol representation → `numMerges` rounds of
    * (pair-count, argmax with the engine's total-order tie-break,
    * boundary-preserving replace). MATERIALIZED is load-bearing: w{i}
    * is referenced by both p{i+1} and w{i+1}, and inlined CTEs would
    * re-evaluate the whole chain exponentially. */
  private def bpeChainSql(numMerges: Int): String = {
    val sb = new StringBuilder
    sb.append(
      raw"""WITH $toksSql,
           |wc AS MATERIALIZED (
           |  SELECT w.tok AS word, count(*) AS cnt
           |  FROM toks, LATERAL (SELECT unnest(tk) AS tok) w
           |  GROUP BY 1),
           |w0 AS MATERIALIZED (
           |  SELECT word, cnt,
           |    '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS seq
           |  FROM wc)""".stripMargin)
    for (i <- 1 to numMerges) {
      sb.append(
        raw""",
           |p$i AS MATERIALIZED (
           |  SELECT tk2[g.i] AS l, tk2[g.i + 1] AS r, sum(cnt) AS n
           |  FROM (SELECT cnt, list_filter(string_split_regex(seq, '\s+'),
           |                                x -> len(x) > 0) AS tk2
           |        FROM w${i - 1}),
           |       LATERAL (SELECT unnest(generate_series(1, len(tk2) - 1)) AS i) g
           |  GROUP BY 1, 2),
           |m$i AS MATERIALIZED (SELECT l, r FROM p$i ORDER BY n DESC, l, r LIMIT 1),
           |w$i AS MATERIALIZED (
           |  SELECT word, cnt, replace(seq,
           |    ' ' || (SELECT l FROM m$i) || '  ' || (SELECT r FROM m$i) || ' ',
           |    ' ' || (SELECT l || r FROM m$i) || ' ') AS seq
           |  FROM w${i - 1})""".stripMargin)
    }
    sb.toString
  }

  private val shingSql =
    s"""shing AS (
       |  SELECT DISTINCT doc_id,
       |    ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]")} AS sh
       |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 4)) AS i)
       |  WHERE len(tk) >= 5)""".stripMargin

  private def markerIn(l: String): String =
    graft.functions.TextFunctions.LangMarkers(l)
      .map(m => s"'$m'").mkString("[", ", ", "]")

  /** The shared PII patterns as DuckDB string literals (no quotes inside;
    * DuckDB '' literals keep backslashes verbatim, matching Java's view of
    * the same pattern text). */
  private val Seq(piiEmail, piiIp, piiNum) =
    graft.functions.TextFunctions.PiiPatterns.map { case (_, p) => s"'$p'" }

  private val piiInjectSql =
    """SELECT doc_id, text || CASE
      |    WHEN doc_id % 5 = 0 THEN ' contact alice.smith+x@mail-host.example.com now'
      |    WHEN doc_id % 5 = 1 THEN ' src 10.42.7.193 logged'
      |    WHEN doc_id % 5 = 2 THEN ' acct 4111111111111111 ref'
      |    ELSE '' END AS txt
      |FROM documents""".stripMargin

  /** x18's DuckDB twin — shared verbatim by the batch gate and the st1
    * streaming-parity gate (same injected input, same rules). */
  private lazy val C4FilterSql: String =
    raw"""WITH inj AS (
         |  SELECT doc_id, text || CASE
         |    WHEN doc_id % 17 = 2 THEN '${C4Injections("mixed")}'
         |    WHEN doc_id % 17 = 5 THEN '${C4Injections("js")}'
         |    WHEN doc_id % 17 = 8 THEN '${C4Injections("lorem")}'
         |    WHEN doc_id % 17 = 11 THEN '${C4Injections("brace")}'
         |    ELSE '' END AS txt
         |  FROM documents),
         |k AS (
         |  SELECT doc_id, txt, len(string_split(txt, chr(10))) AS n_lines,
         |    list_filter(string_split(txt, chr(10)), x ->
         |      right(x, 1) IN ('.', '!', '?', '"')
         |      AND len(list_filter(string_split_regex(x, '\s+'),
         |                          t -> len(t) > 0)) >= 5
         |      AND NOT contains(lower(x), 'javascript')) AS kept
         |  FROM inj),
         |p AS (
         |  SELECT doc_id, n_lines, kept,
         |    (len(kept) >= 3 AND NOT contains(lower(txt), 'lorem ipsum')
         |     AND NOT contains(txt, '{')) AS page_kept
         |  FROM k)
         |SELECT doc_id, n_lines::BIGINT AS n_lines,
         |       len(kept)::BIGINT AS n_kept, page_kept,
         |       CASE WHEN page_kept
         |            THEN array_to_string(kept, chr(10)) END AS clean_text
         |FROM p""".stripMargin

  val oracles: Map[String, String] = Map(
    // the f15 twin replays each registered SQL function from first
    // principles: f4's char-entropy build, the rolling poly hash, token
    // char sums, and the distinct-5-gram count (docs under 5 tokens
    // carry 0 via the left join — shingle_hashes returns [] there)
    "f15_sql_surface" ->
      s"""WITH $toksSql,
         |$shingSql,
         |freq AS (
         |  SELECT doc_id, ch, count(*)::DOUBLE AS c FROM (
         |    SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
         |  GROUP BY doc_id, ch),
         |tot AS (SELECT doc_id, sum(c) AS n FROM freq GROUP BY doc_id),
         |ent AS (SELECT f.doc_id,
         |          floor((sum(-(c/n) * log10(c/n) / log10(2))) * 1000000 + 0.5)
         |            / 1000000.0 AS entropy
         |        FROM freq f JOIN tot USING (doc_id) GROUP BY f.doc_id),
         |ph AS (SELECT doc_id, ${hashSql("text")} AS text_hash FROM documents),
         |tl AS (SELECT doc_id,
         |         coalesce(list_sum(list_transform(tk, x -> len(x))), 0)::DOUBLE
         |           AS tok_chars
         |       FROM toks),
         |ns AS (SELECT doc_id, count(*) AS n_shingles FROM shing GROUP BY doc_id)
         |SELECT d.doc_id, ent.entropy, ph.text_hash, tl.tok_chars,
         |       coalesce(ns.n_shingles, 0)::BIGINT AS n_shingles
         |FROM documents d
         |JOIN ent USING (doc_id) JOIN ph USING (doc_id) JOIN tl USING (doc_id)
         |LEFT JOIN ns USING (doc_id)""".stripMargin,

    "x9_pii_redact" ->
      s"""WITH p AS ($piiInjectSql),
         |s1 AS (SELECT doc_id, txt,
         |         regexp_replace(txt, $piiEmail, '<EMAIL>', 'g') AS t1 FROM p),
         |s2 AS (SELECT *,
         |         regexp_replace(t1, $piiIp, '<IPV4>', 'g') AS t2 FROM s1)
         |SELECT doc_id,
         |  regexp_replace(t2, $piiNum, '<LONGNUM>', 'g') AS clean,
         |  (len(regexp_extract_all(txt, $piiEmail))
         |   + len(regexp_extract_all(t1, $piiIp))
         |   + len(regexp_extract_all(t2, $piiNum)))::INT AS n_pii
         |FROM s2""".stripMargin,

    "x10_repetition" ->
      raw"""WITH $toksSql,
         |tc AS (
         |  SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2)
         |SELECT doc_id, sum(c)::BIGINT AS n_tokens,
         |  count(*)::BIGINT AS n_distinct, max(c)::BIGINT AS top_count,
         |  floor((max(c)::DOUBLE / sum(c)::DOUBLE) * 1000000 + 0.5) / 1000000.0 AS top_ratio,
         |  floor((count(*)::DOUBLE / sum(c)::DOUBLE) * 1000000 + 0.5) / 1000000.0 AS distinct_ratio
         |FROM tc GROUP BY doc_id""".stripMargin,

    "x11_seq_pack" ->
      raw"""WITH d AS (
         |  SELECT doc_id, source AS part,
         |    len(list_filter(string_split_regex(text, '\s+'),
         |                    x -> len(x) > 0))::BIGINT AS n_tokens
         |  FROM documents),
         |w AS (
         |  SELECT *, coalesce(sum(n_tokens) OVER (
         |      PARTITION BY part ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS start_offset
         |  FROM d)
         |SELECT doc_id, part, n_tokens, start_offset,
         |       (start_offset // 2000)::BIGINT AS pack_id
         |FROM w""".stripMargin,

    // the recursive CTE replays FFD doc by doc: `o` orders each part by
    // (n_tokens DESC, doc_id), `rem` carries the open packs' remaining
    // budgets as a list, pos1 is the 1-based first pack that fits
    // (DuckDB's list_position returns 0 — not NULL — when absent, hence
    // the nullif), and len(rem)+1 means "open a new pack"
    "x11c_ffd_pack" ->
      raw"""WITH RECURSIVE d AS (
         |  SELECT doc_id, source AS part,
         |    len(list_filter(string_split_regex(text, '\s+'),
         |                    x -> len(x) > 0))::BIGINT AS n_tokens
         |  FROM documents),
         |o AS (
         |  SELECT *, row_number() OVER (
         |      PARTITION BY part ORDER BY n_tokens DESC, doc_id) AS rn
         |  FROM d),
         |ffd AS (
         |  SELECT part, rn, doc_id, n_tokens, 0::BIGINT AS pack_id,
         |         [2000 - n_tokens] AS rem
         |  FROM o WHERE rn = 1
         |  UNION ALL
         |  SELECT o.part, o.rn, o.doc_id, o.n_tokens,
         |    (l.pos1 - 1)::BIGINT AS pack_id,
         |    CASE WHEN l.pos1 = len(f.rem) + 1 THEN f.rem || [2000 - o.n_tokens]
         |         ELSE f.rem[:l.pos1-1] || [f.rem[l.pos1] - o.n_tokens] || f.rem[l.pos1+1:]
         |         END AS rem
         |  FROM ffd f
         |  JOIN o ON o.part = f.part AND o.rn = f.rn + 1
         |  CROSS JOIN LATERAL (SELECT coalesce(nullif(
         |      list_position(list_transform(f.rem, r -> r >= o.n_tokens), true), 0),
         |      len(f.rem) + 1) AS pos1) l)
         |SELECT doc_id, part, n_tokens, pack_id FROM ffd""".stripMargin,

    "x11b_pack_concat" ->
      raw"""WITH d AS (
         |  SELECT doc_id, source AS part, text,
         |    len(list_filter(string_split_regex(text, '\s+'),
         |                    x -> len(x) > 0))::BIGINT AS n_tokens
         |  FROM documents),
         |w AS (
         |  SELECT *, coalesce(sum(n_tokens) OVER (
         |      PARTITION BY part ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         |    AS start_offset
         |  FROM d),
         |p AS (SELECT *, (start_offset // 2000)::BIGINT AS pack_id FROM w),
         |g AS (
         |  SELECT part, pack_id, count(*) AS n_docs,
         |         sum(n_tokens)::BIGINT AS total_tokens,
         |         string_agg(text, chr(10) ORDER BY doc_id) AS pack_text
         |  FROM p GROUP BY 1, 2)
         |SELECT part, pack_id, n_docs, total_tokens,
         |       ${hashSql("pack_text")} AS pack_hash
         |FROM g""".stripMargin,

    "x12_class_balance" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, ${hashSql("doc_id::VARCHAR")} AS hh
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY hh, doc_id) AS rn FROM h)
         |SELECT doc_id, lang FROM r WHERE rn <= 40""".stripMargin,

    "x1_tokens" ->
      raw"""WITH $toksSql
         |SELECT doc_id, len(tk) AS n_tokens,
         |       len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))
         |         AS n_subtokens,
         |       length(text) AS n_chars
         |FROM toks JOIN documents USING (doc_id)""".stripMargin,

    "x2_quality" -> {
      // bind the shared fragments once so both uses cannot drift
      val stopSql = EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val avgLenSql = "list_reduce(list_prepend(0.0::DOUBLE, " +
        "[len(x)::DOUBLE for x in tk]), (a, b) -> a + b) / len(tk)"
      val stopRatioSql = s"len(list_filter(tk, x -> list_contains($stopSql, x)))::DOUBLE / len(tk)"
      s"""WITH $toksSql
         |SELECT doc_id,
         |  len(tk)::BIGINT AS n_tokens,
         |  CASE WHEN len(tk) = 0 THEN 0.0::DOUBLE
         |       ELSE floor(($avgLenSql) * 1000000 + 0.5) / 1000000.0 END AS avg_token_len,
         |  CASE WHEN len(tk) = 0 THEN 0.0::DOUBLE
         |       ELSE floor(($stopRatioSql) * 1000000 + 0.5) / 1000000.0 END AS stopword_ratio,
         |  CASE WHEN len(tk) = 0 THEN 0.0::DOUBLE
         |       ELSE floor((least(len(tk)::DOUBLE / 100.0, 1.0) * 0.4
         |        + $stopRatioSql * 0.3
         |        + least($avgLenSql / 8.0, 1.0) * 0.3) * 1000000 + 0.5) / 1000000.0 END AS quality
         |FROM toks""".stripMargin
    },

    "x3_langid" ->
      s"""WITH boosted AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 7 = 1 THEN '${LangBoosts("fr")}'
         |         WHEN doc_id % 7 = 2 THEN '${LangBoosts("es")}'
         |         WHEN doc_id % 7 = 3 THEN '${LangBoosts("de")}'
         |         WHEN doc_id % 7 = 4 THEN '${LangBoosts("zh")}'
         |         ELSE '' END AS txt
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(txt, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM boosted),
         |c AS (
         |  SELECT doc_id,
         |    ${langOrder.map(l =>
               s"len(list_filter(tk, x -> list_contains(${markerIn(l)}, x))) AS c_$l")
               .mkString(",\n    ")}
         |  FROM toks)
         |SELECT doc_id,
         |  CASE WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
         |       WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
         |       WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
         |       WHEN c_fr >= c_zh THEN 'fr'
         |       ELSE 'zh' END AS lang_pred
         |FROM c""".stripMargin,

    "x4_fingerprint" ->
      s"""SELECT doc_id, ${hashSql("text")} AS content_hash FROM documents""",

    "d1_exact_dedup" ->
      s"""WITH dup AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0)
         |SELECT ${hashSql("text")} AS content_hash,
         |       min(doc_id) AS keep_id, count(*) AS dup_count
         |FROM dup GROUP BY text HAVING count(*) > 1""".stripMargin,

    // the d11 twin is the ALL-PAIRS levenshtein join over the same
    // injected vocabulary — equality proves deletion-neighborhood
    // blocking is complete for distance 1
    "d11_edit_pairs" ->
      """WITH toks AS (
        |  SELECT DISTINCT lower(tok) AS tok FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) >= 4),
        |vocab AS (
        |  SELECT DISTINCT tok FROM (
        |    SELECT tok FROM toks
        |    UNION ALL SELECT 'x' || substr(tok, 2) FROM toks
        |    UNION ALL SELECT substr(tok, 2) FROM toks WHERE length(tok) >= 5))
        |SELECT a.tok AS tok_a, b.tok AS tok_b
        |FROM vocab a JOIN vocab b
        |  ON a.tok < b.tok AND levenshtein(a.tok, b.tok) = 1""".stripMargin,

    "d2_ngram_jaccard" ->
      s"""WITH $toksSql,
         |$shingSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |       floor((inter::DOUBLE / (sa.n + sb.n - inter)) * 1000000 + 0.5) / 1000000.0 AS jaccard
         |FROM pairs
         |JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.2""".stripMargin,

    "d3_minhash_lsh" ->
      s"""WITH $toksSql,
         |$shingSql,
         |hs AS (SELECT doc_id, list(sh) AS hl FROM shing GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until 8).map { j =>
               val a = 2 * j + 1; val b = j * j + 7919
               s"list_min([(h * $a + $b) % 1000000007 for h in hl]) AS s$j"
             }.mkString(",\n    ")}
         |  FROM hs),
         |banded AS (
         |  ${(0 until 4).map { b =>
              s"SELECT doc_id, $b AS band, s${2 * b}::VARCHAR || '_' || s${2 * b + 1}::VARCHAR AS key, s0, s1, s2, s3, s4, s5, s6, s7 FROM sig"
            }.mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${(0 until 8).map(j => s"a.s$j AS a$j, b.s$j AS b$j").mkString(", ")}
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b,
         |  floor(((${(0 until 8).map(j => s"(a$j = b$j)::INT").mkString(" + ")})::DOUBLE / 8) * 1000000 + 0.5) / 1000000.0
         |    AS est_jaccard
         |FROM cand""".stripMargin,

    "x8_tfidf" ->
      s"""WITH $toksSql,
         |tok AS (SELECT doc_id, unnest(tk) AS token FROM toks),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT doc_id, token, tf, df,
         |  floor((tf * ln(n::DOUBLE / df)) * 1000000 + 0.5) / 1000000.0 AS tfidf
         |FROM tf JOIN dfreq USING (token), n""".stripMargin,

    "x7_decontaminate" ->
      s"""WITH $toksSql,
         |$shingSql,
         |bench AS (SELECT DISTINCT sh FROM shing WHERE doc_id % 97 = 0)
         |SELECT DISTINCT doc_id FROM shing
         |WHERE sh IN (SELECT sh FROM bench)""".stripMargin,

    "d6_near_dup_clusters" ->
      s"""WITH RECURSIVE $toksSql,
         |$shingSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT id_a, id_b FROM prs
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.2),
         |edges AS (SELECT id_a AS a, id_b AS b FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach(node, m) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m)
         |SELECT node AS doc_id, min(m) AS cluster FROM reach GROUP BY node""".stripMargin,

    "c1_curation" -> {
      val stopSql = EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val avgLenSql = "list_reduce(list_prepend(0.0::DOUBLE, " +
        "[len(x)::DOUBLE for x in tk]), (a, b) -> a + b) / len(tk)"
      val stopRatioSql = s"len(list_filter(tk, x -> list_contains($stopSql, x)))::DOUBLE / len(tk)"
      val qualitySql = s"""CASE WHEN len(tk) = 0 THEN 0.0::DOUBLE
        ELSE floor((least(len(tk)::DOUBLE / 100.0, 1.0) * 0.4
        + $stopRatioSql * 0.3 + least($avgLenSql / 8.0, 1.0) * 0.3) * 1000000 + 0.5) / 1000000.0 END"""
      val langSql = langOrder.map(l =>
        s"len(list_filter(tk, x -> list_contains(${markerIn(l)}, x)))")
        .zip(langOrder).map { case (c, l) => s"$c AS c_$l" }.mkString(", ")
      raw"""WITH dup AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
           |toks AS (
           |  SELECT doc_id, text,
           |         list_filter(string_split_regex(text, '\s+'), x -> len(x) > 0) AS tk
           |  FROM dup),
           |ann AS (
           |  SELECT doc_id, text, tk, $qualitySql AS quality, $langSql FROM toks),
           |kept AS (
           |  SELECT doc_id, text, tk, quality,
           |    CASE WHEN c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de'
           |         WHEN c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en'
           |         WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
           |         WHEN c_fr >= c_zh THEN 'fr'
           |         ELSE 'zh' END AS lang_pred
           |  FROM ann WHERE quality >= 0.5),
           |keptl AS (SELECT * FROM kept WHERE lang_pred = 'en'),
           |exact AS (
           |  SELECT k.* FROM keptl k JOIN (
           |    SELECT min(doc_id) AS doc_id FROM keptl
           |    GROUP BY text) m USING (doc_id)),
           |shing AS (
           |  SELECT DISTINCT doc_id,
           |    ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]")} AS sh
           |  FROM exact, LATERAL (SELECT unnest(generate_series(1, len(tk) - 4)) AS i)
           |  WHERE len(tk) >= 5),
           |hot AS (SELECT sh FROM shing GROUP BY sh HAVING count(*) > 1000),
           |shingf AS (SELECT * FROM shing WHERE sh NOT IN (SELECT sh FROM hot)),
           |sizes AS (SELECT doc_id, count(*) AS n FROM shingf GROUP BY 1),
           |pairs AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
           |  FROM shingf a JOIN shingf b ON a.sh = b.sh AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |losers AS (
           |  SELECT DISTINCT id_b AS doc_id FROM pairs
           |  JOIN sizes sa ON sa.doc_id = id_a
           |  JOIN sizes sb ON sb.doc_id = id_b
           |  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.8),
           |deduped AS (
           |  SELECT * FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM losers))
           |SELECT doc_id, quality, lang_pred,
           |  CASE WHEN ${hashSql("doc_id::VARCHAR")} % 100 < 80 THEN 'train'
           |       WHEN ${hashSql("doc_id::VARCHAR")} % 100 < 90 THEN 'val'
           |       ELSE 'test' END AS split
           |FROM deduped""".stripMargin
    },

    "x6_hash_split" ->
      s"""WITH b AS (
         |  SELECT doc_id, ${hashSql("doc_id::VARCHAR")} % 100 AS bkt
         |  FROM documents)
         |SELECT CASE WHEN bkt < 80 THEN 'train'
         |            WHEN bkt < 90 THEN 'val' ELSE 'test' END AS split,
         |       count(*) AS n, min(doc_id) AS min_id
         |FROM b GROUP BY 1""".stripMargin,

    "c2_gopher_rules" -> {
      val stopSql = EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val sumLenSql = "list_reduce(list_prepend(0.0::DOUBLE, " +
        "[len(x)::DOUBLE for x in tk]), (a, b) -> a + b)"
      def r6(e: String) = s"floor(($e) * 1000000 + 0.5) / 1000000.0"
      def g0(e: String) = s"CASE WHEN len(tk) = 0 THEN 0.0::DOUBLE ELSE $e END"
      raw"""WITH inj AS (
           |  SELECT doc_id, text || CASE
           |    WHEN doc_id % 13 = 3 THEN '${GopherInjections("symbols")}'
           |    WHEN doc_id % 13 = 5 THEN '${GopherInjections("digits")}'
           |    WHEN doc_id % 13 = 7 THEN '${GopherInjections("bullets")}'
           |    WHEN doc_id % 13 = 9 THEN '${GopherInjections("ellipsis")}'
           |    ELSE '' END AS txt
           |  FROM documents),
           |toks AS (
           |  SELECT doc_id, txt,
           |    list_filter(string_split_regex(txt, '\s+'), x -> len(x) > 0) AS tk,
           |    string_split(txt, chr(10)) AS ln
           |  FROM inj),
           |stats AS (
           |  SELECT doc_id,
           |    len(tk)::BIGINT AS n_tokens,
           |    ${g0(r6(s"$sumLenSql / len(tk)"))} AS mean_word_len,
           |    ${g0(r6("((len(txt) - len(replace(txt, '#', ''))) " +
                  "+ (len(txt) - len(replace(txt, '...', ''))) / 3)::DOUBLE / len(tk)"))}
           |      AS symbol_ratio,
           |    ${g0(r6("len(list_filter(tk, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(tk)"))}
           |      AS alpha_ratio,
           |    len(list_distinct(list_intersect(tk, $stopSql)))::BIGINT AS n_stop,
           |    ${r6("len(list_filter(ln, l -> regexp_matches(trim(l), '^[-*]')))::DOUBLE / len(ln)")}
           |      AS bullet_ratio,
           |    ${r6("len(list_filter(ln, l -> ends_with(l, '...')))::DOUBLE / len(ln)")}
           |      AS ellipsis_ratio
           |  FROM toks)
           |SELECT *, (n_tokens BETWEEN 50 AND 100000
           |  AND mean_word_len BETWEEN 3.0 AND 10.0
           |  AND symbol_ratio < 0.1 AND alpha_ratio > 0.8 AND n_stop >= 2
           |  AND bullet_ratio < 0.9 AND ellipsis_ratio < 0.3) AS pass
           |FROM stats""".stripMargin
    },

    "d7_dup_spans" ->
      s"""WITH dup AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM dup),
         |sp AS (
         |  SELECT doc_id,
         |    ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]")} AS h
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 4)) AS i)
         |  WHERE len(tk) >= 5),
         |occ AS (SELECT h, count(*) AS occ FROM sp GROUP BY 1)
         |SELECT doc_id, count(*)::BIGINT AS n_spans,
         |  sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans,
         |  floor((sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*))
         |    * 1000000 + 0.5) / 1000000.0 AS dup_ratio
         |FROM sp JOIN occ USING (h)
         |GROUP BY doc_id""".stripMargin,

    // d7's positional spans carried through to the REMOVAL decision:
    // covered positions are the union of [i, i+4] over duplicated starts,
    // kept tokens rejoin in position order.
    "x19_span_removal" ->
      s"""WITH dup AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM dup),
         |sp AS (
         |  SELECT doc_id, i,
         |    ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4]")} AS h
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 4)) AS i)
         |  WHERE len(tk) >= 5),
         |occ AS (SELECT h, count(*) AS occ FROM sp GROUP BY 1),
         |cov AS (
         |  SELECT DISTINCT doc_id, j
         |  FROM sp JOIN occ USING (h),
         |       LATERAL (SELECT unnest(generate_series(i, i + 4)) AS j)
         |  WHERE occ > 1),
         |tp AS (
         |  SELECT doc_id, i AS j, tk[i] AS tok
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk))) AS i)),
         |kept AS (
         |  SELECT doc_id, j, tok FROM tp
         |  WHERE NOT EXISTS (SELECT 1 FROM cov
         |                    WHERE cov.doc_id = tp.doc_id AND cov.j = tp.j)),
         |k AS (SELECT doc_id, count(*) AS n_kept,
         |        string_agg(tok, ' ' ORDER BY j) AS clean FROM kept GROUP BY 1)
         |SELECT t.doc_id, len(tk)::BIGINT AS n_tokens,
         |       (len(tk) - coalesce(n_kept, 0))::BIGINT AS n_removed,
         |       coalesce(clean, '') AS clean_text
         |FROM toks t LEFT JOIN k USING (doc_id)""".stripMargin,

    // first-occurrence-wins over the same fabricated 8-token lines;
    // clean_text stays NULL (not '') when nothing survives — the
    // dropped-page convention shared with x18.
    "x20_line_dedup" ->
      s"""WITH dup AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM dup),
         |lines AS (
         |  SELECT doc_id, ((i - 1) // 8)::INT AS pos,
         |         array_to_string(tk[i:i+7], ' ') AS line
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk), 8)) AS i)
         |  WHERE len(tk) > 0),
         |r AS (
         |  SELECT doc_id, pos, line, row_number() OVER (
         |    PARTITION BY line ORDER BY doc_id, pos) AS rn
         |  FROM lines),
         |k AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(line, chr(10) ORDER BY pos) AS clean
         |  FROM r WHERE rn = 1 GROUP BY 1)
         |SELECT t.doc_id,
         |  (CASE WHEN len(tk) = 0 THEN 0
         |        ELSE (len(tk) - 1) // 8 + 1 END)::BIGINT AS n_lines,
         |  coalesce(n_kept, 0)::BIGINT AS n_kept, clean AS clean_text
         |FROM toks t LEFT JOIN k USING (doc_id)""".stripMargin,

    // one pow + one division per class, both 6-dp-rounded before the
    // integer target derives from the ROUNDED weight
    "x21_temperature_mix" ->
      s"""WITH c AS (SELECT lang AS "class", count(*)::BIGINT AS n_docs
         |           FROM documents GROUP BY 1),
         |d AS (SELECT sum(pow(n_docs, 0.3)) AS denom FROM c)
         |SELECT "class", n_docs,
         |  floor((pow(n_docs, 0.3) / denom) * 1000000 + 0.5) / 1000000.0 AS weight,
         |  least(floor(200 * (floor((pow(n_docs, 0.3) / denom) * 1000000 + 0.5)
         |                     / 1000000.0) + 0.5)::BIGINT, n_docs) AS target
         |FROM c, d""".stripMargin,

    // identical injected mess (NFD accents via chr(), BEL, tab/space
    // runs); nfc_normalize is utf8proc's Form C — the same Unicode
    // algorithm as java.text.Normalizer, so outputs are byte-identical
    "x22_normalize" ->
      s"""SELECT doc_id,
         |  trim(regexp_replace(regexp_replace(nfc_normalize(
         |    text || CASE
         |      WHEN doc_id % 4 = 0 THEN '  Cafe' || chr(769) || chr(9) || 'x'
         |      WHEN doc_id % 4 = 1 THEN ' a' || chr(7) || 'b'
         |      WHEN doc_id % 4 = 2 THEN ' A' || chr(778) || 'rhus'
         |      ELSE '' END),
         |    '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'),
         |    '\\s+', ' ', 'g')) AS clean_text
         |FROM documents""".stripMargin,

    // the full 16-round training replay — each round: pair counts over
    // the current sequences, one argmax, one boundary-preserving replace
    "x25_bpe_train" ->
      s"""${bpeChainSql(16)}
         |${(1 to 16).map(i => s"SELECT $i AS rank, l, r FROM m$i")
              .mkString("\nUNION ALL\n")}""".stripMargin,

    // encode = the trained chain's final sequences, symbol counts joined
    // back onto every doc word occurrence
    "x26_bpe_encode" ->
      s"""${bpeChainSql(16)},
         |enc AS MATERIALIZED (
         |  SELECT word, len(list_filter(string_split_regex(seq, '\\s+'),
         |                               x -> len(x) > 0))::BIGINT AS n_tok
         |  FROM w16),
         |d AS (SELECT doc_id, w.tok AS word
         |      FROM toks, LATERAL (SELECT unnest(tk) AS tok) w)
         |SELECT doc_id, count(*)::BIGINT AS n_words,
         |       sum(n_tok)::BIGINT AS n_bpe_tokens
         |FROM d JOIN enc USING (word)
         |GROUP BY 1""".stripMargin,

    // same keyed token on both sides; cents fixed-point per row
    "x24_pseudonymize" ->
      s"""WITH c AS (
         |  SELECT 'pid_' || ${hashSql("'k7:' || c_custkey::VARCHAR")} AS pid,
         |         c_mktsegment
         |  FROM customer),
         |o AS (
         |  SELECT 'pid_' || ${hashSql("'k7:' || o_custkey::VARCHAR")} AS pid,
         |         floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
         |  FROM orders)
         |SELECT pid, c_mktsegment, count(*)::BIGINT AS n_orders,
         |       sum(cents)::BIGINT AS spend_cents
         |FROM c JOIN o USING (pid)
         |GROUP BY 1, 2""".stripMargin,

    // same poly hash over 's42:'||id, same (hash, id) within-shard order
    "x23_shuffle_shards" ->
      s"""WITH h AS (
         |  SELECT doc_id, ${hashSql("'s42:' || doc_id::VARCHAR")} AS hh
         |  FROM documents)
         |SELECT doc_id, (hh % 4)::INT AS shard,
         |  (row_number() OVER (PARTITION BY hh % 4 ORDER BY hh, doc_id)
         |   - 1)::BIGINT AS pos
         |FROM h""".stripMargin,

    "x13_top_ngrams" ->
      raw"""WITH $toksSql,
         |ng AS (
         |  SELECT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS ngram
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i)
         |  WHERE len(tk) >= 3)
         |SELECT ngram, count(*) AS occ FROM ng GROUP BY 1
         |ORDER BY occ DESC, ngram LIMIT 20""".stripMargin,

    // the d12 twin replays the rarest-first rank, the integer prefix
    // bound, both filters, and the integer verify
    "d12_prefix_jaccard" ->
      raw"""WITH $toksSql,
         |tok AS (SELECT DISTINCT doc_id, t.tok
         |        FROM toks, LATERAL (SELECT unnest(tk) AS tok) t),
         |dfq AS (SELECT tok, count(*)::BIGINT AS df FROM tok GROUP BY 1),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS s FROM tok GROUP BY 1),
         |pr AS (SELECT doc_id, tok, s FROM (
         |    SELECT k.doc_id, k.tok, z.s,
         |           row_number() OVER (PARTITION BY k.doc_id
         |             ORDER BY d.df, k.tok) AS rnk
         |    FROM tok k JOIN dfq d USING (tok) JOIN sz z USING (doc_id))
         |  WHERE rnk <= s - ((s * 900 + 999) // 1000) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |                a.s AS n_a, b.s AS n_b
         |         FROM pr a JOIN pr b
         |           ON a.tok = b.tok AND a.doc_id < b.doc_id
         |         WHERE greatest(a.s, b.s) * 900 <= least(a.s, b.s) * 1000),
         |cc AS (SELECT id_a, id_b, n_a, n_b, count(*)::BIGINT AS c
         |       FROM cand JOIN tok x ON x.doc_id = id_a
         |                 JOIN tok y ON y.doc_id = id_b AND y.tok = x.tok
         |       GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b,
         |       ((c * 1000) // (n_a + n_b - c))::BIGINT AS jaccard_milli
         |FROM cc WHERE c * 1000 >= 900 * (n_a + n_b - c)""".stripMargin,

    // d12's twin over the leader-derived bounded-cluster corpus (Spark
    // transform index j is 0-based, DuckDB list_transform's is 1-based:
    // j%4==1 there is j%4==2 here)
    "d12b_prefix_clean" ->
      raw"""WITH lead AS (
         |  SELECT doc_id // 10 AS dec, arg_min(text, doc_id) AS base
         |  FROM documents GROUP BY 1),
         |docs2 AS (
         |  SELECT d.doc_id,
         |    array_to_string(list_transform(
         |      list_filter(string_split_regex(l.base, '\s+'), x -> len(x) > 0),
         |      (x, j) -> CASE WHEN j % 4 = 2
         |                THEN 'q' || l.dec::VARCHAR || 'z' || x
         |                ELSE x END), ' ')
         |    || ' v' || (d.doc_id % 10)::VARCHAR AS text
         |  FROM documents d JOIN lead l ON l.dec = d.doc_id // 10),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM docs2),
         |tok AS (SELECT DISTINCT doc_id, t.tok
         |        FROM toks, LATERAL (SELECT unnest(tk) AS tok) t),
         |dfq AS (SELECT tok, count(*)::BIGINT AS df FROM tok GROUP BY 1),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS s FROM tok GROUP BY 1),
         |pr AS (SELECT doc_id, tok, s FROM (
         |    SELECT k.doc_id, k.tok, z.s,
         |           row_number() OVER (PARTITION BY k.doc_id
         |             ORDER BY d.df, k.tok) AS rnk
         |    FROM tok k JOIN dfq d USING (tok) JOIN sz z USING (doc_id))
         |  WHERE rnk <= s - ((s * 900 + 999) // 1000) + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |                a.s AS n_a, b.s AS n_b
         |         FROM pr a JOIN pr b
         |           ON a.tok = b.tok AND a.doc_id < b.doc_id
         |         WHERE greatest(a.s, b.s) * 900 <= least(a.s, b.s) * 1000),
         |cc AS (SELECT id_a, id_b, n_a, n_b, count(*)::BIGINT AS c
         |       FROM cand JOIN tok x ON x.doc_id = id_a
         |                 JOIN tok y ON y.doc_id = id_b AND y.tok = x.tok
         |       GROUP BY 1, 2, 3, 4)
         |SELECT id_a, id_b,
         |       ((c * 1000) // (n_a + n_b - c))::BIGINT AS jaccard_milli
         |FROM cc WHERE c * 1000 >= 900 * (n_a + n_b - c)""".stripMargin,

    // the x28 twin replays the identical two-step integer-div lift
    // (division order matters and is part of the contract)
    "x28_pmi_collocations" ->
      raw"""WITH $toksSql,
         |bg0 AS (
         |  SELECT tk[i] || ' ' || tk[i+1] AS bigram
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)
         |  WHERE len(tk) >= 2),
         |bg AS (SELECT bigram, count(*)::BIGINT AS c_ab FROM bg0 GROUP BY 1),
         |sp AS (SELECT bigram, c_ab, split_part(bigram, ' ', 1) AS l,
         |              split_part(bigram, ' ', 2) AS r FROM bg),
         |lm AS (SELECT l, sum(c_ab)::BIGINT AS l_a FROM sp GROUP BY 1),
         |rm AS (SELECT r, sum(c_ab)::BIGINT AS r_b FROM sp GROUP BY 1),
         |tt AS (SELECT sum(c_ab)::BIGINT AS total FROM bg)
         |SELECT bigram, c_ab,
         |       (((c_ab * 1000000) // l_a) * (SELECT total FROM tt) // r_b)::BIGINT
         |         AS lift_micro
         |FROM sp JOIN lm USING (l) JOIN rm USING (r)
         |WHERE c_ab >= 5
         |ORDER BY lift_micro DESC, bigram LIMIT 30""".stripMargin,

    "d4_simhash" ->
      s"""WITH $toksSql,
         |th AS (
         |  SELECT doc_id, ${hashSql("t.tok")} AS h
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) t),
         |bits AS (
         |  SELECT doc_id, i, sum(((h >> i) % 2) * 2 - 1) AS s
         |  FROM th, LATERAL (SELECT unnest(generate_series(0, 15)) AS i)
         |  GROUP BY doc_id, i)
         |SELECT doc_id,
         |       sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS simhash
         |FROM bits GROUP BY doc_id""".stripMargin,

    "d8_retain_best" -> {
      // d6's cluster closure + x2's quality fragments + a per-cluster
      // argmax: the same bound-once fragments, so the twins cannot drift
      val stopSql = EnglishStopwords.map(w => s"'$w'").mkString("[", ", ", "]")
      val avgLenSql = "list_reduce(list_prepend(0.0::DOUBLE, " +
        "[len(x)::DOUBLE for x in tk]), (a, b) -> a + b) / len(tk)"
      val stopRatioSql = s"len(list_filter(tk, x -> list_contains($stopSql, x)))::DOUBLE / len(tk)"
      s"""WITH RECURSIVE $toksSql,
         |$shingSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT id_a, id_b FROM prs
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.2),
         |edges AS (SELECT id_a AS a, id_b AS b FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach(node, m) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m),
         |clus AS (SELECT node AS doc_id, min(m) AS cluster FROM reach GROUP BY node),
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN len(tk) = 0 THEN 0.0::DOUBLE
         |         ELSE floor((least(len(tk)::DOUBLE / 100.0, 1.0) * 0.4
         |          + $stopRatioSql * 0.3
         |          + least($avgLenSql / 8.0, 1.0) * 0.3) * 1000000 + 0.5) / 1000000.0 END
         |      AS quality
         |  FROM toks),
         |lab AS (
         |  SELECT q.doc_id, coalesce(c.cluster, q.doc_id) AS cluster, q.quality
         |  FROM q LEFT JOIN clus c ON c.doc_id = q.doc_id),
         |win AS (
         |  SELECT cluster, doc_id AS keep_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY cluster
         |      ORDER BY quality DESC, doc_id) AS rn FROM lab) WHERE rn = 1)
         |SELECT l.doc_id, l.cluster, l.quality, (l.doc_id = w.keep_id) AS kept
         |FROM lab l JOIN win w ON w.cluster = l.cluster""".stripMargin
    },

    "d9_simhash_pairs" ->
      s"""WITH dupd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
         |toksd AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM dupd),
         |th AS (
         |  SELECT doc_id, ${hashSql("t.tok")} AS h
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toksd) t),
         |bits AS (
         |  SELECT doc_id, i, sum(((h >> i) % 2) * 2 - 1) AS s
         |  FROM th, LATERAL (SELECT unnest(generate_series(0, 15)) AS i)
         |  GROUP BY doc_id, i),
         |fp AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS simhash
         |  FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
         |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin,

    // d9's twin at the 60-bit width: same sign-sum fingerprint
    // construction per bit, token hash = the packed two-poly wide hash.
    // Candidate generation is BANDED like the operator's (4×15-bit band
    // keys, pairs from shared-band buckets, then exact popcount): by the
    // same pigeonhole the operator relies on (maxHamming 3 < 4 bands →
    // any qualifying pair agrees on ≥1 whole band) the result set is
    // IDENTICAL to the all-pairs form, but the twin stays corpus-feasible
    // at 100×/300× replicas where all-pairs is ~1.5e9 popcount evals.
    "d9b_simhash_wide" ->
      s"""WITH dupd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
         |toksd AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM dupd),
         |th AS (
         |  SELECT doc_id, ${wideHashSql("t.tok")} AS h
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toksd) t),
         |bits AS (
         |  SELECT doc_id, i, sum(((h >> i) % 2) * 2 - 1) AS s
         |  FROM th, LATERAL (SELECT unnest(generate_series(0, 59)) AS i)
         |  GROUP BY doc_id, i),
         |fp AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS simhash
         |  FROM bits GROUP BY doc_id),
         |bnd AS (
         |  SELECT doc_id, simhash, i AS band, (simhash >> (i * 15)) & 32767 AS key
         |  FROM fp, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |         a.simhash AS ha, b.simhash AS hb
         |  FROM bnd a JOIN bnd b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, bit_count(xor(ha, hb))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3""".stripMargin,

    // d13: the recursive-closure twin of group-direct clustering — the
    // fingerprint construction is d9's; edges live in fingerprint space;
    // min-reachable closure labels components; docs take the minimum
    // doc_id of their fingerprint's component (isolated fingerprints are
    // their own component → singleton or exact-dup-group clusters)
    "d13_simhash_clusters" ->
      s"""WITH RECURSIVE dupd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
         |toksd AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM dupd),
         |th AS (
         |  SELECT doc_id, ${hashSql("t.tok")} AS h
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toksd) t),
         |bits AS (
         |  SELECT doc_id, i, sum(((h >> i) % 2) * 2 - 1) AS s
         |  FROM th, LATERAL (SELECT unnest(generate_series(0, 15)) AS i)
         |  GROUP BY doc_id, i),
         |fp AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS simhash
         |  FROM bits GROUP BY doc_id),
         |fps AS (SELECT DISTINCT simhash FROM fp),
         |fpe AS (
         |  SELECT a.simhash AS fa, b.simhash AS fb
         |  FROM fps a JOIN fps b ON a.simhash < b.simhash
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT fa AS a, fb AS b FROM fpe UNION SELECT fb, fa FROM fpe),
         |reach(node, m) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m),
         |comp AS (SELECT node AS simhash, min(m) AS fcomp FROM reach GROUP BY node),
         |lab AS (
         |  SELECT f.doc_id, coalesce(c.fcomp, f.simhash) AS fcomp
         |  FROM fp f LEFT JOIN comp c ON c.simhash = f.simhash),
         |cl AS (SELECT fcomp, min(doc_id) AS cluster FROM lab GROUP BY fcomp)
         |SELECT l.doc_id, c.cluster FROM lab l JOIN cl c USING (fcomp)""".stripMargin,

    // d13b: the same closure at the 60-bit wide width (wideTokenHash).
    // Fingerprint edges come from the operator's banded decomposition
    // (4×15-bit band keys over DISTINCT fingerprints — pigeonhole-exact
    // for maxHamming 3 < 4 bands), not an all-pairs popcount scan, so
    // the twin stays feasible at any replica scale.
    "d13b_simhash_clusters_wide" ->
      s"""WITH RECURSIVE dupd AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text FROM documents WHERE doc_id % 10 = 0),
         |toksd AS (
         |  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'),
         |                             x -> len(x) > 0) AS tk
         |  FROM dupd),
         |th AS (
         |  SELECT doc_id, ${wideHashSql("t.tok")} AS h
         |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toksd) t),
         |bits AS (
         |  SELECT doc_id, i, sum(((h >> i) % 2) * 2 - 1) AS s
         |  FROM th, LATERAL (SELECT unnest(generate_series(0, 59)) AS i)
         |  GROUP BY doc_id, i),
         |fp AS (
         |  SELECT doc_id,
         |         sum(CASE WHEN s > 0 THEN 1::BIGINT << i ELSE 0 END)::BIGINT AS simhash
         |  FROM bits GROUP BY doc_id),
         |fps AS (SELECT DISTINCT simhash FROM fp),
         |fbnd AS (
         |  SELECT simhash, i AS band, (simhash >> (i * 15)) & 32767 AS key
         |  FROM fps, LATERAL (SELECT unnest(generate_series(0, 3)) AS i)),
         |fpe AS (
         |  SELECT DISTINCT a.simhash AS fa, b.simhash AS fb
         |  FROM fbnd a JOIN fbnd b
         |    ON a.band = b.band AND a.key = b.key AND a.simhash < b.simhash
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (SELECT fa AS a, fb AS b FROM fpe UNION SELECT fb, fa FROM fpe),
         |reach(node, m) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m),
         |comp AS (SELECT node AS simhash, min(m) AS fcomp FROM reach GROUP BY node),
         |lab AS (
         |  SELECT f.doc_id, coalesce(c.fcomp, f.simhash) AS fcomp
         |  FROM fp f LEFT JOIN comp c ON c.simhash = f.simhash),
         |cl AS (SELECT fcomp, min(doc_id) AS cluster FROM lab GROUP BY fcomp)
         |SELECT l.doc_id, c.cluster FROM lab l JOIN cl c USING (fcomp)""".stripMargin,

    // d3's twin restricted to pairs touching the new batch (% 11 == 0):
    // the banding, signatures, and agreement math are identical — only
    // the candidate predicate adds the at-least-one-new condition
    "d10_incremental_lsh" ->
      s"""WITH $toksSql,
         |$shingSql,
         |hs AS (SELECT doc_id, list(sh) AS hl FROM shing GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until 8).map { j =>
               val a = 2 * j + 1; val b = j * j + 7919
               s"list_min([(h * $a + $b) % 1000000007 for h in hl]) AS s$j"
             }.mkString(",\n    ")}
         |  FROM hs),
         |banded AS (
         |  ${(0 until 4).map { b =>
              s"SELECT doc_id, $b AS band, s${2 * b}::VARCHAR || '_' || s${2 * b + 1}::VARCHAR AS key, s0, s1, s2, s3, s4, s5, s6, s7 FROM sig"
            }.mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${(0 until 8).map(j => s"a.s$j AS a$j, b.s$j AS b$j").mkString(", ")}
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |  WHERE a.doc_id % 11 = 0 OR b.doc_id % 11 = 0)
         |SELECT id_a, id_b,
         |  floor(((${(0 until 8).map(j => s"(a$j = b$j)::INT").mkString(" + ")})::DOUBLE / 8) * 1000000 + 0.5) / 1000000.0
         |    AS est_jaccard
         |FROM cand""".stripMargin,

    // d10's signature/banding fragments with the benchmark (% 97 == 0) as
    // the probe side: candidates keep self-matches (a benchmark doc IS
    // contamination of itself), est = signature agreement / 8, corpus doc
    // keeps its max over benchmark matches
    "x7b_fuzzy_decontaminate" ->
      s"""WITH $toksSql,
         |$shingSql,
         |hs AS (SELECT doc_id, list(sh) AS hl FROM shing GROUP BY doc_id),
         |sig AS (
         |  SELECT doc_id,
         |    ${(0 until 8).map { j =>
               val a = 2 * j + 1; val b = j * j + 7919
               s"list_min([(h * $a + $b) % 1000000007 for h in hl]) AS s$j"
             }.mkString(",\n    ")}
         |  FROM hs),
         |banded AS (
         |  ${(0 until 4).map { b =>
              s"SELECT doc_id, $b AS band, s${2 * b}::VARCHAR || '_' || s${2 * b + 1}::VARCHAR AS key, s0, s1, s2, s3, s4, s5, s6, s7 FROM sig"
            }.mkString("\n  UNION ALL\n  ")}),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS bench_id,
         |    ${(0 until 8).map(j => s"a.s$j AS a$j, b.s$j AS b$j").mkString(", ")}
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key
         |  WHERE b.doc_id % 97 = 0),
         |est AS (
         |  SELECT doc_id, bench_id,
         |    floor(((${(0 until 8).map(j => s"(a$j = b$j)::INT").mkString(" + ")})::DOUBLE / 8) * 1000000 + 0.5) / 1000000.0
         |      AS est
         |  FROM cand)
         |SELECT doc_id, max(est) AS est_jaccard FROM est
         |WHERE est >= 0.5 GROUP BY doc_id""".stripMargin,

    // bigrams by adjacent positions, add-one-smoothed NLL snapped to 1e-6
    // fixed point per bigram (integer sums — order-independent), one
    // double division per doc at the end
    "x16_lm_score" ->
      s"""WITH $toksSql,
         |bg AS (
         |  SELECT doc_id, tk[i] AS w1, tk[i+1] AS w2
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)
         |  WHERE len(tk) >= 2),
         |c12 AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
         |vocab AS (
         |  SELECT count(DISTINCT x) AS v
         |  FROM (SELECT unnest(tk) AS x FROM toks)),
         |probs AS (
         |  SELECT w1, w2,
         |    floor(-ln((c12 + 1)::DOUBLE / (c1 + v)::DOUBLE) * 1000000 + 0.5)::BIGINT AS nll6
         |  FROM c12 JOIN c1 USING (w1), vocab),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_bigrams, sum(nll6) AS s
         |  FROM bg JOIN probs USING (w1, w2) GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         |       floor(s::DOUBLE / n_bigrams + 0.5) / 1000000.0 AS avg_nll
         |FROM agg""".stripMargin,

    // the same line rules over the same injected tails; clean_text is the
    // kept lines rejoined, NULL for dropped pages
    // the x27 twin replays the closed-form chunk boundaries over the
    // same whitespace tokens; list_slice clamps the tail exactly like
    // Spark's slice
    "x27_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(text, '\s+'),
        |                     t -> t <> '') AS toks
        |  FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
        |c AS (SELECT doc_id, toks, n,
        |             unnest(generate_series(0,
        |               (greatest(n - 16, 0) + 11) // 12)) AS chunk_idx
        |      FROM n)
        |SELECT doc_id, chunk_idx::INT AS chunk_idx,
        |       (chunk_idx * 12)::BIGINT AS start,
        |       len(list_slice(toks, chunk_idx * 12 + 1,
        |                      chunk_idx * 12 + 16))::BIGINT AS n_tokens,
        |       array_to_string(list_slice(toks, chunk_idx * 12 + 1,
        |                                  chunk_idx * 12 + 16), ' ') AS chunk_text
        |FROM c""".stripMargin,

    "x18_c4_filter" -> C4FilterSql,

    // the streaming gate cleans the identical injected input, so its
    // oracle IS the batch twin: stream == batch == SQL, driver-checked
    "st1_stream_c4_parity" -> C4FilterSql,

    // stateful streaming dedup: first occurrence per content key == the
    // relational min(doc_id) per text over the same dup-injected corpus
    // (ts is monotone in doc_id, one micro-batch, so the stream's
    // min-(ts,id) winner IS min(doc_id))
    "st2_stream_dedup" ->
      """WITH dup AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + (SELECT max(doc_id) + 1 FROM documents), text
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT min(doc_id) AS doc_id, md5(text) AS content_key
        |FROM dup GROUP BY text""".stripMargin,

    // hashed-bigram buckets, per-corpus smoothed bucket models with each
    // log snapped to 1e-6 fixed point (integer per-doc sums), one double
    // division chain per doc, deterministic top-k
    "x17_dsir_select" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang = 'en' AS is_target,
         |         list_filter(string_split_regex(text, '\\s+'),
         |                     x -> len(x) > 0) AS tk
         |  FROM documents),
         |bg AS (
         |  SELECT doc_id, is_target, tk[i] || ' ' || tk[i+1] AS f
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)
         |  WHERE len(tk) >= 2),
         |feats AS (
         |  SELECT doc_id, is_target, (${hashSql("f")}) % 1024 AS b, count(*) AS c
         |  FROM bg GROUP BY 1, 2, 3),
         |nt AS (SELECT sum(c) AS n FROM feats WHERE is_target),
         |ns AS (SELECT sum(c) AS n FROM feats WHERE NOT is_target),
         |mt AS (SELECT b, sum(c) AS ct FROM feats WHERE is_target GROUP BY 1),
         |ms AS (SELECT b, sum(c) AS cs FROM feats WHERE NOT is_target GROUP BY 1),
         |deltas AS (
         |  SELECT coalesce(mt.b, ms.b) AS b,
         |    floor(ln((coalesce(ct, 0) + 1)::DOUBLE / (nt.n + 1024)) * 1000000 + 0.5)::BIGINT
         |  - floor(ln((coalesce(cs, 0) + 1)::DOUBLE / (ns.n + 1024)) * 1000000 + 0.5)::BIGINT
         |      AS d_int
         |  FROM mt FULL OUTER JOIN ms ON mt.b = ms.b, nt, ns),
         |scored AS (
         |  SELECT doc_id, sum(c * d_int)::BIGINT AS s_int, sum(c)::BIGINT AS n_feats
         |  FROM feats JOIN deltas USING (b) WHERE NOT is_target GROUP BY 1)
         |SELECT doc_id, n_feats,
         |       (s_int::DOUBLE / n_feats) / 1000000.0 AS avg_logw, rank
         |FROM (SELECT *, row_number() OVER (
         |        ORDER BY (s_int::DOUBLE / n_feats) / 1000000.0 DESC, doc_id)::INT AS rank
         |      FROM scored)
         |WHERE rank <= 25""".stripMargin,

    "x14_mixture" ->
      s"""WITH h AS (
         |  SELECT doc_id, lang, ${hashSql("doc_id::VARCHAR")} AS hh
         |  FROM documents),
         |r AS (
         |  SELECT *, row_number() OVER (PARTITION BY lang
         |    ORDER BY hh, doc_id) AS rn FROM h)
         |SELECT doc_id, lang FROM r
         |WHERE rn <= CASE lang WHEN 'en' THEN 60 WHEN 'de' THEN 30
         |                      WHEN 'es' THEN 20 WHEN 'fr' THEN 10
         |                      WHEN 'zh' THEN 5 ELSE 0 END""".stripMargin,

    "x15_cluster_split" ->
      s"""WITH RECURSIVE $toksSql,
         |$shingSql,
         |sizes AS (SELECT doc_id, count(*) AS n FROM shing GROUP BY 1),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM shing a JOIN shing b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT id_a, id_b FROM prs
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE inter::DOUBLE / (sa.n + sb.n - inter) >= 0.2),
         |edges AS (SELECT id_a AS a, id_b AS b FROM jp
         |          UNION SELECT id_b, id_a FROM jp),
         |reach(node, m) AS (
         |  SELECT DISTINCT a, a FROM edges
         |  UNION
         |  SELECT r.node, e.b FROM reach r JOIN edges e ON e.a = r.m),
         |clus AS (SELECT node AS doc_id, min(m) AS cluster FROM reach GROUP BY node),
         |lab AS (
         |  SELECT d.doc_id, coalesce(c.cluster, d.doc_id) AS cluster
         |  FROM documents d LEFT JOIN clus c ON c.doc_id = d.doc_id),
         |bk AS (
         |  SELECT doc_id, cluster,
         |         ${hashSql("cluster::VARCHAR")} % 100 AS b
         |  FROM lab)
         |SELECT doc_id, cluster,
         |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM bk""".stripMargin,

    // the x29 twin replays hash→uniform→exponential-arrival scoring and
    // the (score, id)-ordered k-smallest selection
    "x29_weighted_sample" ->
      s"""WITH h1 AS (
         |  SELECT doc_id, n_chars,
         |         ${hashSql("'s8:' || doc_id::VARCHAR")} AS g
         |  FROM documents WHERE n_chars::DOUBLE > 0),
         |h2 AS (
         |  SELECT doc_id, n_chars,
         |    ((g % 65536) * 654435747 + (g // 65536) * 100815169)
         |      % 1000000007 AS m
         |  FROM h1),
         |h AS (
         |  SELECT doc_id, n_chars,
         |         ${hashSql("reverse(m::VARCHAR)")} AS hh
         |  FROM h2)
         |SELECT doc_id, n_chars,
         |  floor(-ln((hh + 1)::DOUBLE / 1000000007.0) / n_chars::DOUBLE
         |        * 1000000 + 0.5)::BIGINT AS es_score
         |FROM h
         |ORDER BY es_score, doc_id LIMIT 50""".stripMargin,

    // the x30 twin replays the feature hashing, the closed-form weight
    // table, the integer pooling, and the single rounded sigmoid
    "x30_quality_classifier" ->
      raw"""WITH $toksSql,
         |f AS (
         |  SELECT doc_id, u.f FROM toks, LATERAL (SELECT unnest(tk) AS f) u
         |  UNION ALL
         |  SELECT doc_id, tk[i] || ' ' || tk[i+1] AS f
         |  FROM toks,
         |       LATERAL (SELECT unnest(generate_series(1, len(tk) - 1)) AS i)
         |  WHERE len(tk) >= 2),
         |w AS (
         |  SELECT doc_id,
         |    (((${hashSql("f")} % 1024) * 2654435761 + 911382323)
         |       % 1000000007) % 1000001 - 500000 AS wm
         |  FROM f),
         |a AS (
         |  SELECT doc_id, count(*)::BIGINT AS n_feats,
         |         sum(wm)::BIGINT AS s_micro
         |  FROM w GROUP BY 1)
         |SELECT doc_id, n_feats, s_micro,
         |  floor(1.0 / (1.0 + exp(-(s_micro::DOUBLE / (n_feats * 1000000.0))))
         |        * 1000000 + 0.5) / 1000000.0 AS prob,
         |  s_micro >= 0 AS keep
         |FROM a WHERE n_feats > 0""".stripMargin,

    // the x33 twin replays term hashing, tf/df, the micro weights, the
    // integer dot/norm sums, and the identical 3-IEEE-op cosine
    "x33_tfidf_cosine" ->
      raw"""WITH $toksSql,
         |tng AS (
         |  SELECT doc_id,
         |    ${hashSql("tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]")} AS sh
         |  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(tk) - 2)) AS i)
         |  WHERE len(tk) >= 3),
         |tfq AS MATERIALIZED (
         |  SELECT doc_id, sh, count(*)::BIGINT AS tf FROM tng GROUP BY 1, 2),
         |dfq AS (SELECT sh, count(*)::BIGINT AS df FROM tfq GROUP BY 1),
         |nd AS (SELECT count(*)::BIGINT AS n FROM documents),
         |wv AS MATERIALIZED (
         |  SELECT doc_id, sh,
         |    floor(tf * ln(n::DOUBLE / df) * 1000000 + 0.5)::BIGINT AS m
         |  FROM tfq JOIN dfq USING (sh), nd WHERE df <= 1000),
         |n2 AS (SELECT doc_id, sum(m * m)::BIGINT AS n2 FROM wv GROUP BY 1),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |         sum(a.m * b.m)::BIGINT AS num
         |  FROM wv a JOIN wv b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  floor((num::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE)))
         |        * 1000000 + 0.5) / 1000000.0 AS cosine
         |FROM pr
         |JOIN n2 na ON na.doc_id = id_a
         |JOIN n2 nb ON nb.doc_id = id_b
         |WHERE num::DOUBLE / (sqrt(na.n2::DOUBLE) * sqrt(nb.n2::DOUBLE))
         |      >= 0.5""".stripMargin,

    // the x34 twin: the training properties are scale-invariant booleans
    "x34_unigram_em" ->
      "SELECT TRUE AS runs_identical, TRUE AS nll_monotone",

    // the x35 twin rebuilds the same page and replays the strip chain
    // (RE2 flags via the 4th arg; g on every replace)
    "x35_html_strip" ->
      raw"""WITH h AS (
         |  SELECT doc_id,
         |    '<html><head><script type="text/javascript">var x = 1; if (x &lt; 2) { x = 3; }</script><style>.c { color: red; }</style></head><body><h1>Title '
         |    || doc_id::VARCHAR || '</h1><p class="main">' || text
         |    || '</p><div>Tom &amp; Jerry &lt;3 &quot;quotes&quot; &nbsp; end</div></body></html>'
         |      AS html
         |  FROM documents),
         |c1 AS (SELECT doc_id, regexp_replace(html,
         |         '(?is)<script[^>]*>.*?</script>', ' ', 'g') AS t FROM h),
         |c2 AS (SELECT doc_id, regexp_replace(t,
         |         '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM c1),
         |c3 AS (SELECT doc_id, regexp_replace(t, '<[^>]*>', ' ', 'g') AS t
         |       FROM c2),
         |c4 AS (SELECT doc_id,
         |         replace(replace(replace(replace(replace(replace(t,
         |           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |           '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS t
         |       FROM c3)
         |SELECT doc_id,
         |       trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text,
         |       len(trim(regexp_replace(t, '\s+', ' ', 'g')))::BIGINT
         |         AS n_chars_clean
         |FROM c4""".stripMargin,

    // the x31 twin replays substring counting, the char/top-20 split
    // with its (cnt desc, piece) tiebreak, and the rounded ln
    "x31_unigram_vocab" ->
      s"""WITH $unigramVocabCtes
         |SELECT piece, cnt, lp_micro FROM uv""".stripMargin,

    // the x32 twin replays the Viterbi DP itself: 16 unrolled positions,
    // candidates from the 4 piece lengths, k = 64·s − np packed argmax
    // (max score, then fewest pieces), unpack, per-doc aggregation
    "x32_unigram_encode" ->
      s"""WITH $unigramVocabCtes${unigramDpCtes(16, 4)},
         |udw AS (
         |  SELECT doc_id, t.tok AS word
         |  FROM toks, LATERAL (SELECT unnest(tk) AS tok) t
         |  WHERE len(t.tok) <= 16)
         |SELECT doc_id, count(*)::BIGINT AS n_words,
         |       sum(np)::BIGINT AS n_pieces, sum(nll)::BIGINT AS nll_micro
         |FROM udw JOIN useg USING (word) GROUP BY 1""".stripMargin,

    // the x40 twin replays the urlFab fabrication verbatim, then every
    // graft.functions.Urls rule in RE2 (see urlCanonCtes)
    "x40_url_canonicalize" ->
      s"""WITH $urlCanonCtes
         |SELECT doc_id, url, canon_url, surt_key FROM uc""".stripMargin,

    // the d14 twin groups the replayed canonical form: keep-first dedup
    "d14_url_dedup" ->
      s"""WITH $urlCanonCtes
         |SELECT canon_url, count(*)::BIGINT AS n_dups,
         |       min(doc_id)::BIGINT AS keep_doc_id
         |FROM uc GROUP BY 1""".stripMargin,

    // the x41 twin derives the intended link targets straight from the
    // fabrication (no HTML round trip), drops non-absolute ends, and
    // replays the url_host rules — an independent construction of what
    // href extraction + canonicalization must yield
    "x41_link_graph" ->
      s"""WITH t0 AS (
         |  SELECT doc_id, ${urlFabSql("doc_id")} AS su,
         |    unnest([${urlFabSql("doc_id + 1")},
         |      ${urlFabSql("doc_id * 2 + 3")},
         |      CASE WHEN doc_id % 3 = 0 THEN ${urlFabSql("doc_id + 7")}
         |        ELSE NULL END]) AS du
         |  FROM documents),
         |t1 AS (
         |  SELECT su, du FROM t0
         |  WHERE du IS NOT NULL
         |    AND regexp_matches(su, '^[A-Za-z][A-Za-z0-9+.-]*://')
         |    AND regexp_matches(du, '^[A-Za-z][A-Za-z0-9+.-]*://')),
         |t2 AS (
         |  SELECT ${urlHostSql("su")} AS src_host,
         |    ${urlHostSql("du")} AS dst_host
         |  FROM t1)
         |SELECT src_host, dst_host, count(*)::BIGINT AS n_links
         |FROM t2 GROUP BY 1, 2""".stripMargin,

    // the x42 twin derives (target, cleaned-anchor) pairs straight from
    // the fabrication (the anchor constants are the already-cleaned
    // display texts), replays the canonicalization chain on the target,
    // and ranks per-target anchors with the same (count desc, anchor)
    // window
    "x42_anchor_text" ->
      s"""WITH a0 AS (
         |  SELECT doc_id, ${urlFabSql("doc_id")} AS su,
         |    unnest([
         |      {'du': ${urlFabSql("doc_id + 1")},
         |       'an': 'site ' || ((doc_id + 1) % 7)::VARCHAR},
         |      {'du': ${urlFabSql("doc_id * 2 + 3")}, 'an': 'read more'},
         |      CASE WHEN doc_id % 3 = 0 THEN
         |        {'du': ${urlFabSql("doc_id + 7")}, 'an': 'spaced anchor'}
         |      ELSE NULL END]) AS p
         |  FROM documents),
         |a1 AS (
         |  SELECT p.du AS url, p.an AS an FROM a0
         |  WHERE p.du IS NOT NULL
         |    AND regexp_matches(su, '^[A-Za-z][A-Za-z0-9+.-]*://')
         |    AND regexp_matches(p.du, '^[A-Za-z][A-Za-z0-9+.-]*://')),
         |${urlCanonChainSql("a1", "an")},
         |acnt AS (
         |  SELECT canon_url AS dst_url, an AS anchor,
         |    count(*)::BIGINT AS n_anchors
         |  FROM uc GROUP BY 1, 2),
         |ark AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY dst_url ORDER BY n_anchors DESC, anchor) AS r
         |  FROM acnt)
         |SELECT dst_url, anchor, n_anchors FROM ark WHERE r <= 2""".stripMargin,

    // the x43 twin rebuilds the page string itself in SQL (html_chars
    // checked against an independent construction), derives the link
    // list with its cleaned-anchor lengths from the fabrication, and
    // replays the canonical-host compare for the external test (the
    // always-true keep flags type the conditional third element without
    // an empty-list literal)
    "x43_link_density" ->
      s"""WITH l0 AS (
         |  SELECT doc_id, ${urlFabSql("doc_id")} AS su,
         |    ${urlPageFabSql("doc_id")} AS page,
         |    list_filter([
         |      {'du': ${urlFabSql("doc_id + 1")}, 'ac': 6, 'k': true},
         |      {'du': ${urlFabSql("doc_id * 2 + 3")}, 'ac': 9, 'k': true},
         |      {'du': ${urlFabSql("doc_id + 7")}, 'ac': 13,
         |       'k': doc_id % 3 = 0}], x -> x.k) AS links
         |  FROM documents),
         |l1 AS (
         |  SELECT doc_id,
         |    len(links)::BIGINT AS n_links,
         |    len(list_filter(links, x ->
         |      regexp_matches(x.du, '^[A-Za-z][A-Za-z0-9+.-]*://')
         |      AND ${urlHostSql("x.du")} <> ${urlHostSql("su")}))::BIGINT
         |      AS n_external,
         |    list_sum(list_transform(links, x -> x.ac))::BIGINT
         |      AS anchor_chars,
         |    len(page) AS html_chars
         |  FROM l0)
         |SELECT doc_id, n_links, n_external, anchor_chars,
         |  floor((anchor_chars::DOUBLE / html_chars) * 1000000 + 0.5)
         |    / 1000000.0 AS link_density,
         |  CASE WHEN n_links = 0 THEN 0.0
         |    ELSE floor((n_external::DOUBLE / n_links) * 1000000 + 0.5)
         |      / 1000000.0 END AS ext_ratio
         |FROM l1""".stripMargin,

    // the st15 twin: keep-first per replayed canonical form (ts monotone
    // in doc_id makes the stream's first-arrival winner min(doc_id))
    "st15_stream_url_frontier" ->
      s"""WITH $urlCanonCtes
         |SELECT min(doc_id)::BIGINT AS doc_id, canon_url
         |FROM uc GROUP BY canon_url""".stripMargin
  )

  /** Shared x40/d14 CTE block: the [[urlFab]] fabrication replayed
    * verbatim, then each [[graft.functions.Urls]] canonicalization rule
    * (userinfo strip, lowercase, scheme-conditional default-port strip,
    * www-label strip, empty-path → `/`, fragment strip, tracking-param
    * filter, byte-wise param sort, SURT host reversal) in RE2. Plain
    * triple-quoted (NOT an interpolator): the regexes carry `$` anchors
    * and `\?` literals. */
  /** [[urlFab]] replayed as a DuckDB expression over an arbitrary id
    * expression (single line — these snippets interpolate into
    * stripMargin blocks, where a wrapped line starting with `||` would
    * lose a pipe to the margin strip). */
  private def urlFabSql(id: String): String =
    raw"(CASE WHEN ($id) % 23 = 0 THEN 'relative/Path?b=2&a=1' " +
      raw"ELSE (CASE ($id) % 3 WHEN 0 THEN 'HTTP' WHEN 1 THEN 'https' ELSE 'hTTp' END) || '://' || " +
      raw"(CASE WHEN ($id) % 7 = 0 THEN 'bob:secret@' ELSE '' END) || " +
      raw"(CASE WHEN ($id) % 2 = 0 THEN 'WWW.' WHEN ($id) % 5 = 0 THEN 'www2.' ELSE '' END) || " +
      raw"'Site' || (($id) % 41)::VARCHAR || '.Example.COM' || " +
      raw"(CASE ($id) % 4 WHEN 0 THEN ':80' WHEN 1 THEN ':443' WHEN 2 THEN ':8080' ELSE '' END) || " +
      raw"(CASE WHEN ($id) % 6 = 0 THEN '' ELSE '/P/' || (($id) % 13)::VARCHAR END) || " +
      raw"(CASE WHEN ($id) % 9 = 0 THEN '' WHEN ($id) % 9 = 3 THEN '?utm_campaign=C' " +
      raw"ELSE '?utm_source=Feed&b=' || (($id) % 5)::VARCHAR || '&a=' || (($id) % 3)::VARCHAR || " +
      raw"(CASE WHEN ($id) % 6 = 1 THEN '&gclid=XYZ' ELSE '' END) END) || " +
      raw"(CASE WHEN ($id) % 8 = 0 THEN '#Sec2' ELSE '' END) END)"

  /** [[urlPageFab]] replayed as a DuckDB expression — the x43 twin
    * checks html length against this independent construction. chr(10)
    * carries the embedded newline so the builder SQL stays single-line;
    * `''` escapes the single quotes of the `class='m' href='` segment. */
  private def urlPageFabSql(id: String): String =
    raw"""('<html><body><a href="' || ${urlFabSql(s"($id) + 1")} || """ +
      raw"""'">site ' || ((($id) + 1) % 7)::VARCHAR || """ +
      raw"""'</a> text <a class=''m'' href=''' || ${urlFabSql(s"($id) * 2 + 3")} || """ +
      raw"""'''>read <b>more</b></a>' || """ +
      raw"""(CASE WHEN ($id) % 3 = 0 THEN '<A HREF="' || ${urlFabSql(s"($id) + 7")} || """ +
      raw"""'">  spaced' || chr(10) || '  anchor </A>' ELSE '' END) || """ +
      raw"""'</body></html>')"""

  /** [[graft.functions.Urls.url_host]] replayed as a DuckDB expression
    * over an arbitrary URL expression (single line, see [[urlFabSql]]). */
  private def urlHostSql(u: String): String = {
    val scheme = raw"lower(regexp_extract($u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    val hp = raw"lower(regexp_replace(regexp_extract($u, " +
      raw"'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^@]*@', ''))"
    raw"regexp_replace(CASE WHEN $scheme = 'http' THEN regexp_replace($hp, ':80$$', '') " +
      raw"WHEN $scheme = 'https' THEN regexp_replace($hp, ':443$$', '') ELSE $hp END, " +
      raw"'^(www[0-9]*\.)+', '')"
  }

  /** The [[graft.functions.Urls]] canonicalization rule chain as CTEs
    * over an input CTE `src` carrying a `url` column plus `keep`
    * passthrough columns (comma list): emits
    * `uc(keep..., url, canon_url, surt_key)`. Literal `$` anchors in the
    * regexes are `$$`-escaped against the interpolator. */
  private def urlCanonChainSql(src: String, keep: String): String =
    raw"""up AS (
      |  SELECT $keep, url,
      |    regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') AS is_abs,
      |    lower(regexp_extract(url,
      |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_replace(regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |      '^[^@]*@', '')) AS hp,
      |    regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(regexp_replace(url, '#.*', ''),
      |      '\?(.*)', 1) AS rawq
      |  FROM $src),
      |uh AS (
      |  SELECT *,
      |    regexp_replace(
      |      CASE WHEN scheme = 'http' THEN regexp_replace(hp, ':80$$', '')
      |           WHEN scheme = 'https' THEN regexp_replace(hp, ':443$$', '')
      |           ELSE hp END,
      |      '^(www[0-9]*\.)+', '') AS host,
      |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END AS path,
      |    array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |      p -> p <> '' AND NOT regexp_matches(p,
      |        '^(utm_[A-Za-z0-9_]*|gclid|fbclid|msclkid|yclid|mc_eid|igshid)(=|$$)'))),
      |      '&') AS cq
      |  FROM up),
      |uc AS (
      |  SELECT $keep, url,
      |    CASE WHEN is_abs THEN scheme || '://' || host || path ||
      |        CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
      |      ELSE url END AS canon_url,
      |    CASE WHEN is_abs THEN
      |        array_to_string(list_reverse(string_split(host, '.')), ',') ||
      |        ')' || path ||
      |        CASE WHEN cq <> '' THEN '?' || cq ELSE '' END
      |      ELSE url END AS surt_key
      |  FROM uh)""".stripMargin

  private lazy val urlCanonCtes: String =
    s"""uf AS (
      |  SELECT doc_id, ${urlFabSql("doc_id")} AS url
      |  FROM documents),
      |""".stripMargin + urlCanonChainSql("uf", "doc_id")

  /** Shared unigram-vocab CTE block: word counts → weighted substring
    * counts → all chars + top-20 multis → integer micro log-probs.
    * Mirrors [[graft.operators.Unigram.buildVocab]]. */
  private lazy val unigramVocabCtes: String =
    raw"""$toksSql,
       |uwc AS MATERIALIZED (
       |  SELECT w.tok AS word, count(*) AS cnt
       |  FROM toks, LATERAL (SELECT unnest(tk) AS tok) w GROUP BY 1),
       |usub AS MATERIALIZED (
       |  SELECT substr(word, s, l) AS piece, sum(cnt)::BIGINT AS cnt
       |  FROM uwc,
       |       LATERAL (SELECT unnest(generate_series(1, len(word))) AS s),
       |       LATERAL (SELECT unnest(generate_series(1,
       |                  least(4, len(word) - s + 1))) AS l)
       |  GROUP BY 1),
       |uvc AS (
       |  SELECT piece, cnt FROM usub WHERE len(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt FROM usub WHERE len(piece) > 1
       |    ORDER BY cnt DESC, piece LIMIT 20)),
       |utot AS (SELECT sum(cnt)::BIGINT AS n FROM uvc),
       |uv AS MATERIALIZED (
       |  SELECT piece, cnt,
       |         floor(ln(cnt::DOUBLE / n) * 1000000 + 0.5)::BIGINT AS lp_micro
       |  FROM uvc, utot)""".stripMargin

  /** The x32 Viterbi chain: dp_i = packed argmax over piece lengths,
    * k = 64·s − np (max score then fewest pieces; exact for np < 64 —
    * the ≤16-char word filter), then unpack and finalize per word.
    * Mirrors [[graft.operators.Unigram.viterbiSegment]]. */
  private def unigramDpCtes(maxLen: Int, maxPieceLen: Int): String = {
    val sb = new StringBuilder
    sb.append(s""",
      |uw AS MATERIALIZED (SELECT word FROM uwc WHERE len(word) <= $maxLen),
      |dp0 AS (SELECT word, 0::BIGINT AS k FROM uw)""".stripMargin)
    for (i <- 1 to maxLen) {
      val branches = (1 to math.min(maxPieceLen, i)).map { l =>
        s"""SELECT d.word, d.k + 64 * v.lp_micro - 1 AS k
           |    FROM dp${i - l} d JOIN uv v
           |      ON v.piece = substr(d.word, ${i - l + 1}, $l)
           |    WHERE len(d.word) >= $i""".stripMargin
      }.mkString("\n    UNION ALL\n    ")
      sb.append(s""",
        |dp$i AS MATERIALIZED (
        |  SELECT word, max(k) AS k FROM (
        |    $branches
        |  ) GROUP BY 1)""".stripMargin)
    }
    val fins = (1 to maxLen)
      .map(i => s"SELECT word, k FROM dp$i WHERE len(word) = $i")
      .mkString("\n  UNION ALL\n  ")
    sb.append(s""",
      |ufin AS (
      |  $fins),
      |useg AS MATERIALIZED (
      |  SELECT word, ((-k) % 64 + 64) % 64 AS np,
      |         -((k + ((-k) % 64 + 64) % 64) // 64) AS nll
      |  FROM ufin)""".stripMargin)
    sb.toString
  }
}
