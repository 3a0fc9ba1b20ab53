package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.hashes
import graft.text.TextFunctions._

/** Text-analysis parity queries over the documents table (SURVEY §2). */
object TextQueries {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // collocation mining (phrase discovery): rank bigrams by LIFT =
    // c_xy*N / (c_x*c_y) — the log-free monotone twin of PMI, so the
    // ranking is integer-derived and ULP-proof (no libm, unlike
    // surprisal). One explode feeds all four count tables; unigram and
    // total tables are vocab-sized 1-hop broadcasts (the q11 scalar
    // pattern — never a driver collect). Ordering compares QUANTIZED
    // lift with (x, y) tiebreak, so the top-20 cut is deterministic in
    // both engines.
    "text_collocations" -> { (s, dir) =>
      val d = Tables.wide(s, dir, "documents")
      // bind the split to a column BEFORE the lambda: element_at on the
      // raw split expression re-runs the regex per element (HOF O(n^2)
      // trap) — 5x this query at the 100x rung
      val toks = col("toks")
      val pairs = d.select(tokens(col("text")).as("toks")).select(explode(
          when(size(toks) >= 2,
            transform(sequence(lit(1), size(toks) - 1),
              i => struct(element_at(toks, i).as("x"), element_at(toks, i + 1).as("y"))))
            .otherwise(array().cast("array<struct<x:string,y:string>>"))).as("p"))
        .select(col("p.x").as("x"), col("p.y").as("y"))
      val cxy = pairs.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      val cx = pairs.groupBy("x").agg(count(lit(1)).as("c_x"))
      val cy = pairs.groupBy("y").agg(count(lit(1)).as("c_y"))
      val tot = pairs.agg(count(lit(1)).as("n_total"))
      cxy.join(broadcast(cx), "x").join(broadcast(cy), "y")
        .join(broadcast(tot))
        .where(col("c_xy") >= 5)
        .select(col("x"), col("y"), col("c_xy"),
          Tables.quant4(col("c_xy").cast("double") * col("n_total").cast("double") /
            (col("c_x").cast("double") * col("c_y").cast("double"))).as("lift"))
        .orderBy(col("lift").desc, col("x"), col("y"))
        .limit(20)
    },
    "text_tokens" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      d.select(
        col("doc_id"),
        size(tokens(col("text"))).as("n_tokens"),
        size(bpeTokens(col("text"))).as("n_bpe"),
        length(col("text")).as("n_chars_actual"))
    },
    "text_quality" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      // one bound token column feeds all four ratio reads (a raw
      // tokens(text) expression re-splits per reference)
      d.select(col("doc_id"), col("text"), tokens(col("text")).as("_toks"))
        .select(
          col("doc_id"),
          uniqueRatio(col("_toks")).as("uniq_ratio"),
          stopwordRatio(col("_toks")).as("stop_ratio"),
          punctRatio(col("text")).as("punct_ratio"),
          qualityScoreT(col("text"), col("_toks")).as("quality"))
    },
    "text_fingerprint" -> { (s, dir) =>
      Tables(s, dir, "documents")
        .select(col("doc_id"), md5(col("text")).as("fp_md5"))
    },
    // Winnowing fingerprints (Schleimer/Wilkerson/Aiken '03 — the MOSS
    // scheme, the LOCAL complement of text_fingerprint's whole-doc
    // hash): k=3-token shingle hashes, sliding w=4 window keeps each
    // window's min. Two docs sharing any k+w-1 = 6 consecutive tokens
    // share a fingerprint, yet only ~2/(w+1) of hashes are kept — the
    // partial-overlap dedup screen quote/boilerplate detection needs
    // and whole-doc hashing can't see. Scan-stage HOFs end-to-end: the
    // hash array materializes ONCE per row (separate projection), the w
    // shifted slices reference it, and the only data movement is the
    // exploded (doc_id, fp) output itself. Exact oracle: the 15-hex-md5
    // hash replays in DuckDB digit for digit.
    "text_winnowing" -> { (s, dir) =>
      Tables.wide(s, dir, "documents")
        .withColumn("hs", shingleHashes15(tokens(col("text")), 3))
        .select(col("doc_id"), explode(winnowSelect(col("hs"), 4)).as("fp"))
    },
    // RAG/context chunking: overlapping token windows (64 tokens,
    // stride 48 -> 16-token overlap), the step between curation and
    // embedding in a retrieval corpus build. Chunk starts walk 0, S,
    // 2S, ... until the window reaches the end; the final chunk may be
    // short but always contributes new tokens. A scan-stage explode —
    // no shuffle, output rows ~ n_tokens/stride per doc; at 100 TB
    // chunking is embarrassingly parallel and the downstream embed /
    // index steps see bounded-size texts.
    "text_chunk" -> { (s, dir) =>
      graft.text.Pipeline.chunk(Tables.wide(s, dir, "documents"))
    },
    // PII scrubbing audit: scrubbed-text hash + URL/email hit counts
    "text_scrub" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      d.select(
        col("doc_id"),
        md5(scrub(col("text"))).as("scrubbed_md5"),
        urlCount(col("text")).as("n_urls"),
        emailCount(col("text")).as("n_emails"))
    },
    // Gopher-style repetition: most frequent bigram's share of all
    // bigrams — per-row codegen'd kernel, no shuffle (oracle stays the
    // string group-by; exact token-sequence equivalence)
    // compressibility quality screen (the Gopher-family signal the
    // token-ratio panels can't see: templated/boilerplate text deflates
    // far below natural prose): per-doc DEFLATE size via the native
    // DeflateSize expression — one scan-stage projection, O(len) per
    // row, no shuffle. DEFLATE isn't replayable in the oracle engine →
    // rows-only; the spec replays bytes through the same JDK deflater.
    "text_compressibility" -> { (s, dir) =>
      val d = Tables.wide(s, dir, "documents")
      d.select(col("doc_id"),
          octet_length(col("text")).as("n_bytes"),
          hashes.deflateSize(col("text")).as("n_deflate"))
        .where(col("n_bytes") > 0)
        .select(col("doc_id"), col("n_bytes"), col("n_deflate"),
          expr("(CAST(n_deflate AS BIGINT) * 10000L) div n_bytes").as("ratio_bp"))
    },
    // Flesch reading-ease readability (the classic quality/complexity
    // screen): words = whitespace tokens (the engine-wide contract),
    // sentences = [.!?]+ runs (min 1), syllables ≈ vowel groups. All
    // three are integer regex counts in ONE scan-stage projection —
    // zero shuffles — and the score is a single IEEE chain over them,
    // so the whole row is exact cross-engine (no libm: just * and /).
    "text_readability" -> { (s, dir) =>
      val d = Tables.wide(s, dir, "documents")
      val stats = d.select(col("doc_id"),
        size(tokens(col("text"))).as("n_words"),
        greatest(size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))), lit(1))
          .as("n_sents"),
        size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
          .as("n_syll"))
      // one rational form — (206835·S·W − 1015·W² − 84600·Syl·S) /
      // (1000·S·W) — so the score is a SINGLE division of two exact
      // integers: a multi-term float chain lands on half-grid values
      // whose decimal rounding the engines split (27/5000 docs at
      // sf0.1 flipped by 1e-4 before this)
      val num = lit(206835L) * col("n_sents") * col("n_words") -
        lit(1015L) * col("n_words") * col("n_words") -
        lit(84600L) * col("n_syll") * col("n_sents")
      val den = lit(1000L) * col("n_sents") * col("n_words")
      stats.where(col("n_words") > 0)
        .select(col("doc_id"), col("n_words"), col("n_sents"), col("n_syll"),
          Tables.quant4(num.cast("double") / den.cast("double")).as("flesch"))
    },
    "text_repetition" -> { (s, dir) =>
      val d = Tables.wide(s, dir, "documents")
      // the cheap size(tokens) filter DOES tokenize a second time, but
      // filtering on the kernel output instead would be worse: Catalyst
      // pushes deterministic predicates through projections by alias
      // substitution, so an isNotNull(ratio) filter re-evaluates the
      // whole sort kernel per row, not just the split
      d.where(size(tokens(col("text"))) >= 2) // group-by semantics: no row for gram-less docs
        .select(col("doc_id"), topShingleRatio(tokens(col("text")), 2).as("top_bigram_ratio"))
    },
    // Gopher-style multi-signal repetition panel: most-frequent-n-gram
    // share for n=2..4 plus the duplicate-bigram fraction, all per-row
    // codegen'd kernels in ONE projection over ONE tokenize (Catalyst
    // subexpression elimination computes the split once) — zero
    // shuffles, the per-document quality screen shape a 100 TB curation
    // pass runs in the scan stage
    "text_gopher" -> { (s, dir) =>
      val d = Tables.wide(s, dir, "documents")
      val t = tokens(col("text"))
      d.where(size(tokens(col("text"))) >= 5)
        .select(col("doc_id"),
          topShingleRatio(t, 2).as("top2_ratio"),
          topShingleRatio(t, 3).as("top3_ratio"),
          topShingleRatio(t, 4).as("top4_ratio"),
          dupShingleFraction(t, 2).as("dup2_frac"))
    },
    // deterministic stratified sample: first 20 docs per language by id
    // (the data-mixing primitive; at scale the same window runs per shard)
    "sample_stratified" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
      Tables(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 20)
        .select(col("doc_id"), col("lang"), col("rn"))
    },
    // chunk-level dedup: the RAG complement of text_chunk — repeated
    // boilerplate chunks (headers, footers, licence blocks) collapse to
    // one canonical copy BEFORE embedding, where doc-level dedup can't
    // see them. Chunk → hash → keep min (doc_id, chunk_idx) per hash.
    // min(struct) instead of a window rank: the lexicographic struct
    // min partial-aggregates map-side, so the one shuffle carries at
    // most one (hash, ids) row per hash per partition — never chunk
    // text, and never a per-hash sort of every chunk row.
    "dedup_chunks" -> { (s, dir) =>
      val chunks = graft.text.Pipeline.chunk(Tables.wide(s, dir, "documents"))
      chunks
        .groupBy(md5(col("chunk_text")).as("chunk_md5"))
        .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("c"))
        .select(col("c.doc_id").as("doc_id"), col("c.chunk_idx").as("chunk_idx"),
          col("chunk_md5"))
    },
    // the corpus datasheet: per (lang, source) doc counts, token
    // volume, and mean quality — the report a curation run publishes
    // alongside its output. One scan + one tiny rollup shuffle; the
    // quality mean goes through per-doc fixed-point quantization (sum
    // of longs is order-independent) so the result is bit-stable on
    // any partitioning and the oracle compares exactly.
    "corpus_stats" -> { (s, dir) =>
      val d = Tables.wide(s, dir, "documents")
      d.select(col("lang"), col("source"), col("text"), tokens(col("text")).as("_toks"))
        .select(col("lang"), col("source"),
          size(col("_toks")).as("n_toks"),
          floor(qualityScoreT(col("text"), col("_toks")) * 10000 + 0.5).cast("long").as("qmicro"))
        .groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks").cast("long")).as("n_tokens"),
          (sum(col("qmicro")).cast("double") / 10000.0 / count(lit(1)).cast("double"))
            .as("mean_quality"))
    },
    // per-domain quota cap (the Common-Crawl curation rule: no single
    // domain may dominate the corpus): keep at most 15 docs per source,
    // chosen by content hash so the survivors are deterministic AND
    // unbiased by ingest order (capping by doc_id would keep whatever
    // was crawled first). One shuffle on source; a skewed mega-domain
    // still only materializes its own partition, and the window could
    // swap to the bounded-heap top-k aggregate if rank-to-quota over a
    // hot domain ever became the straggler.
    "sample_quota" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("source").orderBy(md5(col("text")), col("doc_id"))
      Tables(s, dir, "documents")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 15)
        .select(col("doc_id"), col("source"), col("rn"))
    },
    // deterministic train/val split on a content hash: stable across runs,
    // engines, and partitionings (never split on random() in a pipeline)
    "sample_split" -> { (s, dir) =>
      val bucket = conv(substring(md5(col("text")), 1, 4), 16, 10).cast("int") % 10
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          when(bucket < 9, lit("train")).otherwise(lit("val")).as("split"))
    },
    // training-shard layout: every doc lands in exactly one of N shards
    // by a salted id hash, with a deterministic hash-ordered position
    // inside the shard — the pre-training data-loader order, shuffled
    // once and reproducible across engines/runs/partitionings (a
    // random() shuffle can't re-run, a doc_id order isn't shuffled).
    // One shuffle on shard; the per-shard sort is the window.
    // token-length histogram (tokenizer diagnostics: where the mass
    // sits before committing to a subword vocab): occurrences + share
    // per character length, one explode + one map-side-combined rollup
    // with a window over the tiny histogram. Exact.
    "text_token_lengths" -> { (s, dir) =>
      import graft.text.TextFunctions.tokens
      Tables.wide(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("tok"))
        .groupBy(length(col("tok")).as("tok_len"))
        .agg(count(lit(1)).as("n"))
        .withColumn("share_bp",
          expr("(n * 10000L) div (sum(n) OVER ())"))
    },
    // column-completeness profile (the data-quality preflight): per
    // documents column — nulls, empties, distincts. One pass of
    // conditional counts + three distinct aggregates. Exact.
    "docs_profile" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      def prof(c: String) =
        d.agg(lit(c).as("column"),
          count(when(col(c).isNull, 1)).as("n_null"),
          count(when(col(c).cast("string") === "", 1)).as("n_empty"),
          countDistinct(col(c)).as("n_distinct"))
      prof("text").unionByName(prof("lang")).unionByName(prof("source"))
    },
    // Heaps'-law vocabulary growth: distinct vocabulary vs cumulative
    // tokens at ten crawl-order checkpoints — the curve that says
    // whether more of the same crawl still buys new language. One
    // token explode feeds a min-doc-per-token rollup (vocab side) and
    // a per-doc count rollup (token side); each joins the broadcast
    // 10-row checkpoint spine. Exact: pure integer set/count logic.
    "text_vocab_growth" -> { (s, dir) =>
      import graft.text.TextFunctions.tokens
      val tok = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val nDocs = Tables(s, dir, "documents").agg(count(lit(1)).as("n")).head.getLong(0)
      val cuts = (1 to 10).map(c => (c, c * nDocs / 10))
      import s.implicits._
      val spine = broadcast(cuts.toDF("checkpoint", "cut"))
      val vocab = tok.groupBy("tok").agg(min("doc_id").as("first_doc"))
        .join(spine, col("first_doc") < col("cut"))
        .groupBy("checkpoint").agg(count(lit(1)).as("vocab"))
      val toks = tok.groupBy("doc_id").agg(count(lit(1)).as("nt"))
        .join(spine, col("doc_id") < col("cut"))
        .groupBy(col("checkpoint").as("cp")).agg(sum("nt").as("total_tokens"))
      vocab.join(toks, col("checkpoint") === col("cp"))
        .select(col("checkpoint"), col("total_tokens"), col("vocab"))
    },
    // per-source quality dashboard — which crawl sources are worth
    // keeping: doc count, integer-mean and exact-interpolated median of
    // fixed-point quality, and the reject rate at the 0.6 curation
    // gate, one map-side-combined rollup per source. Exact: quality
    // quantizes to fixed point before every aggregate (integer
    // quantile interpolation is IEEE-exact).
    "docs_source_quality" -> { (s, dir) =>
      import graft.text.TextFunctions.qualityScoreT
      val qfp = floor(qualityScoreT(col("text"), col("_toks")) * 10000 + 0.5).cast("long")
      Tables.wide(s, dir, "documents")
        .select(col("source"), col("text"), tokens(col("text")).as("_toks"))
        .select(col("source"), qfp.as("qfp"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(qfp) div count(*)").as("mean_qfp"),
          Tables.quant4(expr("percentile(qfp, 0.5)")).as("p50_qfp"),
          expr("(count(CASE WHEN qfp < 6000 THEN 1 END) * 10000L) div count(*)")
            .as("reject_bp"))
    },
    // corpus novelty curve: per doc (in id order — the crawl-snapshot
    // order), what fraction of its distinct 3-shingles appears here
    // FIRST — the diminishing-returns signal that tells a crawl
    // pipeline when new data stops adding content. One shingle explode
    // → min-doc-per-shingle rollup (map-side combined) → join back on
    // shingle; only (shingle-hash, doc_id) longs shuffle. Exact: set
    // semantics + integer-bp ratio.
    "text_ngram_novelty" -> { (s, dir) =>
      import graft.text.TextFunctions._
      val sh = Tables.wide(s, dir, "documents")
        .select(col("doc_id"),
          explode(shingles(tokens(col("text")), 3)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("h"))
      val first = sh.groupBy("h").agg(min("doc_id").as("first_doc"))
      sh.join(first, "h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          count(when(col("first_doc") === col("doc_id"), 1)).as("n_novel"))
        .select(col("doc_id"), col("n_shingles"), col("n_novel"),
          expr("(n_novel * 10000L) div n_shingles").as("novelty_bp"))
    },
    // curriculum layout: 4 quality stages (cleanest quartile trains
    // first — the curriculum-learning order), positions within a stage
    // deterministic by salted hash. Quality quantizes to fixed-point
    // BEFORE the quartile thresholds (integer quarter-quantiles are
    // IEEE-exact, the RFM argument), thresholds come from the
    // dimension-sized doc rollup and broadcast back. Exact oracle.
    "sample_curriculum" -> { (s, dir) =>
      import graft.text.TextFunctions.qualityScoreT
      val qfp = floor(qualityScoreT(col("text"), col("_toks")) * 10000 + 0.5).cast("long")
      val d = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), col("text"), tokens(col("text")).as("_toks"))
        .select(col("doc_id"), qfp.as("qfp"))
      val th = d.agg(expr("percentile(qfp, array(0.25D, 0.5D, 0.75D))").as("q"))
      val h = md5(concat(lit("cur:"), col("doc_id").cast("string")))
      val staged = d.crossJoin(broadcast(th))
        .select(col("doc_id"), col("qfp"), h.as("h"),
          when(col("qfp").cast("double") > element_at(col("q"), 3), 1)
            .when(col("qfp").cast("double") > element_at(col("q"), 2), 2)
            .when(col("qfp").cast("double") > element_at(col("q"), 1), 3)
            .otherwise(4).as("stage"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("stage").orderBy(col("h"), col("doc_id"))
      staged.withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("stage"), col("pos"), col("qfp"))
    },
    "sample_shards" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val h = md5(concat(lit("shard:"), col("doc_id").cast("string")))
      val w = Window.partitionBy("shard").orderBy(col("h"), col("doc_id"))
      Tables(s, dir, "documents")
        .select(col("doc_id"), h.as("h"),
          (conv(substring(h, 1, 4), 16, 10).cast("int") % 8).as("shard"))
        .withColumn("pos", row_number().over(w))
        .select(col("doc_id"), col("shard"), col("pos"))
    },
    // corpus vocabulary statistics: top-20 tokens by document frequency
    // per-doc keyword extraction: top-3 terms by rarity-weighted
    // frequency — tf × ((N·1e6) div df), the integer monotone twin of
    // TF-IDF's tf·ln(N/df) (the text_collocations lift-for-PMI move:
    // no libm, bit-exact everywhere; stopwords die of high df exactly
    // as under ln). Plan: one explode → (doc, term) counts with
    // map-side combine, df re-aggregated FROM the tf table (terms
    // shuffle once, documents never re-read), join back on term (AQE
    // picks broadcast at small vocab, shuffle join at web-corpus
    // vocab), per-doc top-3 via a window over ≤|doc terms| rows.
    // Exact oracle: integers + (score desc, term) total tie order.
    "text_keywords" -> { (s, dir) =>
      val tf = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val n = Tables(s, dir, "documents").agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
      tf.join(df, "tok").crossJoin(broadcast(n))
        .select(col("doc_id"), col("tok"), col("tf"),
          (col("tf") * expr("(n_docs * 1000000L) div df")).as("score"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("tok"), col("score"))
    },
    "text_topterms" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      d.select(col("doc_id"), explode(array_distinct(tokens(col("text")))).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("tok"))
        .limit(20)
    },
    // heavy-hitter PHRASES via the frequent-items sketch — the
    // bounded-memory twin of text_topterms' exact groupBy: no term
    // ever leaves its scan partition (no explode, no term shuffle);
    // fixed-size Misra-Gries maps merge per partition. Right-sized
    // (vocab < 0.75 x maxMapSize, spec-asserted max_err = 0) the
    // counts are exact, so this gates against the exact trigram
    // multiset oracle while keeping the 100 TB plan shape.
    "text_heavy_hitters" -> { (s, dir) =>
      Tables.wide(s, dir, "documents")
        .select(shinglesAll(tokens(col("text")), 3).as("grams"))
        .agg(graft.functions.freqitems.agg(col("grams")).as("sk"))
        .select(explode(graft.functions.freqitems.topK(col("sk"), 25)).as("h"))
        .select(col("h.term").as("term"), col("h.n").as("n"))
    },
    // corpus-LM quality signal: mean unigram surprisal (-ln p(tok) under
    // the corpus's own term frequencies). Per-token surprisal quantizes
    // to fixed-point BEFORE the sum (integer sums are order-independent)
    // and the whole thing is two hash shuffles (vocab count + per-doc
    // sum). Rows-only at the gate: ln() differs by 1 ULP between libm
    // implementations, which flips the fixed-point floor on ~1e-3 of
    // tokens — a transcendental can't pass a bit-exact cross-engine
    // hash robustly (measured: 11/5000 docs at sf0.1)
    "text_surprisal" -> { (s, dir) =>
      val tok = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("n"))
      val total = vocab.agg(sum(col("n")).as("nn"))
      val scored = vocab.crossJoin(broadcast(total))
        .select(col("tok"),
          floor(-log(col("n").cast("double") / col("nn").cast("double")) * 10000 + 0.5)
            .cast("long").as("micro"))
      // unigram vocab stays small even at corpus scale -> broadcast the
      // scored table instead of shuffling every token occurrence twice
      tok.join(broadcast(scored), "tok")
        .groupBy("doc_id")
        .agg(sum(col("micro")).as("m"), count(lit(1)).as("n_toks"))
        // floor(x + 0.5) instead of quant4: m/(1e4*n) lands EXACTLY on
        // the 5e-5 decimal grid whenever n divides m nicely, where
        // HALF_UP (Spark Decimal) and DuckDB's double->DECIMAL rounding
        // disagree by one ulp; floor of the same IEEE division result
        // is bit-identical on both engines
        .select(col("doc_id"),
          (floor(col("m").cast("double") / col("n_toks").cast("double") + 0.5) / 10000.0)
            .as("mean_surprisal"),
          col("n_toks"))
    },
    // distributed BPE merge learning (tokenizer training): corpus ->
    // token frequencies (ONE corpus-scale aggregation) -> 16 merge
    // rounds over the vocabulary-sized distinct-word table. Rows-only
    // at the gate (the greedy iterative argmax is not expressible in
    // one SQL statement); semantics pinned by BpeSpec against the
    // classic hand-computed example. Deterministic: frequency ties
    // break lexicographically.
    "text_bpe" -> { (s, dir) =>
      import s.implicits._
      val wordFreq = Tables.wide(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      graft.text.Bpe.learn(s, wordFreq, 16).toDF()
        .select(col("rank"), col("left"), col("right"), col("pair_freq"))
    },
    // apply-side of the tokenizer: the merge table learned by text_bpe
    // rides the plan as a native kernel (BpeEncodeTokens — the
    // CoarseAssign pattern for text) and every document becomes its
    // subword stream in a shuffle-free scan-stage projection. Rows-only
    // (the iterative merge replay is not SQL); internal consistency
    // (losslessness, merge-table parity) is spec-pinned.
    "text_bpe_encode" -> { (s, dir) =>
      import org.apache.spark.sql.GraftBridge
      val wordFreq = Tables.wide(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val tbl = graft.text.Bpe.learn(s, wordFreq, 16)
        .sortBy(_.rank).map(m => (m.left, m.right)).toArray
      val enc = GraftBridge.column(graft.text.BpeEncodeTokens(
        GraftBridge.expression(tokens(col("text"))), tbl))
      // r15 measured-and-left: splitting `enc` into its own projection
      // (so the two size() consumers share one alias) was a WASH in a
      // matched 6-pass A/B (1.75 -> 1.82 s) — codegen subexpression
      // elimination already evaluates the kernel once per row despite
      // the duplicated expression text in the plan; reverted
      Tables.wide(s, dir, "documents")
        .select(col("doc_id"),
          size(enc).as("n_subwords"),
          size(array_distinct(enc)).as("n_distinct_subwords"))
    },
    // fasttext-shaped hashed linear classifier (the quality-filter model
    // CCNet/RefinedWeb-style curation runs over every document): token →
    // 64-bit hash → one of 1024 weight buckets → summed weight = logit,
    // keep = logit > 0. The weight table here is a deterministic
    // stand-in (weight derived from the bucket id — no pretrained model
    // ships with the repo) but the PLUMBING is the real thing: hashing
    // and bucket lookup run in the scan stage, weights are integer
    // millis so the per-doc sum partial-aggregates to ONE long per doc
    // per partition (order-independent, bit-stable) — at 100 TB the
    // shuffle carries (doc_id, long, count), never tokens, and a real
    // 1024-float weight vector would ride the plan as a literal exactly
    // like this derivation does.
    "text_classifier" -> { (s, dir) =>
      val tok = Tables.wide(s, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      val bucket = conv(substring(md5(col("tok")), 1, 4), 16, 10).cast("long") % 1024L
      val milli = (bucket * lit(2654435761L)) % 2003L - 1001L
      tok.select(col("doc_id"), milli.as("w"))
        .groupBy("doc_id")
        .agg(sum(col("w")).as("wsum"), count(lit(1)).as("n_toks"))
        // ONE division of two exact longs: bit-identical across engines
        // (quantizing here would be WORSE — milli sums over thousandths
        // land exactly on 4-decimal half-way points, where decimal
        // rounding modes disagree)
        .select(col("doc_id"),
          (col("wsum").cast("double")
            / (col("n_toks") * 1000L).cast("double")).as("logit"),
          (col("wsum") > 0L).as("keep"))
    },
    // heuristic language id (the synthetic corpus shares one vocabulary,
    // so accuracy is not meaningful here — the deterministic argmax is)
    "text_langid" -> { (s, dir) =>
      val d = Tables(s, dir, "documents")
      d.select(
        col("doc_id"),
        langId(tokens(col("text"))).as("lang_pred"),
        col("lang"))
    },
    // language-ID confusion matrix — the classifier eval a curation
    // pipeline reads before trusting langid-based filtering: labeled
    // lang × predicted lang with counts and integer-bp row share.
    // Composes the exact langid kernel; one map-side-combined rollup +
    // a window over ≤|langs|² cells. Exact oracle.
    "text_lang_confusion" -> { (s, dir) =>
      val cells = Tables(s, dir, "documents")
        .groupBy(col("lang"), langId(tokens(col("text"))).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
      cells
        .withColumn("n_true",
          sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy("lang")))
        .select(col("lang"), col("lang_pred"), col("n"),
          expr("(n * 10000L) div n_true").as("share_bp"))
    },
    // script/charset profiling (the FineWeb/CCNet-style pre-langid
    // gate): per-doc counts of latin/digit/cyrillic/cjk/arabic
    // codepoints by unicode-range regex — one shuffle-free scan-stage
    // projection — plus a deterministic dominant-script label (fixed
    // cjk > cyrillic > arabic > latin tie priority, 'unknown' when no
    // letters). Counts are exact integers and Java/RE2 agree on
    // character-class ranges, so the oracle is exact.
    "text_script" -> { (s, dir) =>
      val t = col("text")
      def cnt(re: String) = regexp_count(t, lit(re)).cast("long")
      Tables.wide(s, dir, "documents")
        .select(col("doc_id"),
          length(t).cast("long").as("n_chars"),
          cnt("[a-zA-Z]").as("n_latin"),
          cnt("[0-9]").as("n_digit"),
          cnt("[\\x{0400}-\\x{04FF}]").as("n_cyrillic"),
          cnt("[\\x{4E00}-\\x{9FFF}]").as("n_cjk"),
          cnt("[\\x{0600}-\\x{06FF}]").as("n_arabic"))
        .withColumn("script",
          when(col("n_cjk") > 0 &&
            col("n_cjk") >= greatest(col("n_latin"), col("n_cyrillic"), col("n_arabic")), "cjk")
          .when(col("n_cyrillic") > 0 &&
            col("n_cyrillic") >= greatest(col("n_latin"), col("n_arabic")), "cyrillic")
          .when(col("n_arabic") > 0 && col("n_arabic") >= col("n_latin"), "arabic")
          .when(col("n_latin") > 0, "latin")
          .otherwise("unknown"))
    })

  private val toksSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** quality-feature CTEs over `documents`, shared by text_quality and
    * the composed pipeline_curate oracle (one definition — the gate
    * would silently diverge if these were copied) */
  private[queries] val qualityCtesSql: String =
    s"""t AS (SELECT doc_id, lang, source, text, $toksSql AS toks FROM documents),
       |f AS (
       |  SELECT doc_id, lang, source, text, toks,
       |    CASE WHEN len(toks) > 0
       |      THEN CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS uniq_ratio,
       |    CASE WHEN len(toks) > 0
       |      THEN CAST(len(list_filter(toks, x -> list_contains(['the','a','an','and','or','of','to','in','is','it','for','on','with','as','at','by'], x))) AS DOUBLE)
       |           / CAST(len(toks) AS DOUBLE)
       |      ELSE 0.0 END AS stop_ratio,
       |    CASE WHEN length(text) > 0
       |      THEN CAST(length(text) - length(regexp_replace(text, '[.,;:!?''"()\\[\\]{}-]', '', 'g')) AS DOUBLE)
       |           / CAST(length(text) AS DOUBLE)
       |      ELSE 0.0 END AS punct_ratio,
       |    least(CAST(len(toks) AS DOUBLE) / 64.0, 1.0) AS len_score
       |  FROM t
       |)""".stripMargin

  private[queries] val qualityExprSql: String =
    """len_score * 0.25 + uniq_ratio * 0.25
      |    + least(stop_ratio * 4.0, 1.0) * 0.25
      |    + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.25""".stripMargin

  /** oracle twin of TextFunctions.langId, generated from the same
    * profiles: argmax over (hits, prio, lang) structs — both engines
    * compare structs field-ordered */
  private def langidSql: String = {
    val n = graft.text.TextFunctions.langProfiles.size
    val cands = graft.text.TextFunctions.langProfiles.zipWithIndex
      .map { case ((lang, words), idx) =>
        val inList = words.map(w => s"'$w'").mkString(", ")
        s"{'hits': len(list_filter(toks, x -> x IN ($inList))), 'prio': ${n - idx}, 'lang': '$lang'}"
      }.mkString(", ")
    s"""WITH t AS (SELECT doc_id, lang, $toksSql AS toks FROM documents)
       |SELECT doc_id, list_max([$cands]).lang AS lang_pred, lang FROM t""".stripMargin
  }

  // the chunk walk shared by text_chunk and dedup_chunks: starts 0, 48,
  // 96, ... ceil(max(n-64,0)/48) inclusive; DuckDB list slicing is
  // 1-based inclusive like Spark's slice()
  private val chunkCtesSql: String =
    s"""t AS (SELECT doc_id, $toksSql AS toks FROM documents),
       |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
       |c AS (
       |  SELECT doc_id,
       |    unnest([{'ci': i, 'ch': toks[i*48+1 : least(i*48+64, n)]}
       |            FOR i IN range(0, CAST(ceil(greatest(n-64, 0)/48.0) AS BIGINT)+1)]) AS u
       |  FROM n)""".stripMargin

  /**
   * BPE merge-learning replay, UNROLLED: one (pair-count -> argmax ->
   * greedy rewrite) CTE triple per merge round. Recursion can't express
   * the rewrite (it needs an aggregate over the working table per
   * step), but 16 rounds unroll mechanically. Two tricks make each
   * round pure SQL:
   *  - a word's symbol list rides as a \x1f-delimited string with EVERY
   *    symbol wrapped ("\x1fa\x1f\x1fb\x1f"), so the pair (l, r) is the
   *    substring "\x1fl\x1f\x1fr\x1f" — impossible to match across a
   *    symbol boundary (corpus text never contains \x1f);
   *  - DuckDB's replace() substitutes left-to-right non-overlapping,
   *    which IS applyMerge's greedy rule ("a a a" -> ["aa","a"]), and
   *    the double-separator wrapping keeps back-to-back matches intact
   *    ("a a a a" -> ["aa","aa"]).
   * MATERIALIZED is load-bearing: each round references the previous
   * seg twice, so inlined CTEs would re-expand the chain 2^16 times.
   * Ties break (freq DESC, left, right) in binary string order — the
   * corpus is ASCII, where DuckDB's byte order equals Bpe.cpCompare.
   */
  private def bpeCtesSql(numMerges: Int): String = {
    val S = "chr(31)"
    val head =
      s"""wf AS MATERIALIZED (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest($toksSql) AS word FROM documents
         |  ) WHERE len(word) > 0 GROUP BY word
         |),
         |seg0 AS MATERIALIZED (
         |  SELECT $S || array_to_string(list_append(string_split(word, ''), '</w>'), $S||$S) || $S AS seg, freq
         |  FROM wf
         |)""".stripMargin
    val rounds = (0 until numMerges).map { t =>
      s"""b$t AS MATERIALIZED (
         |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS pf
         |  FROM (
         |    SELECT pr.l AS l, pr.r AS r, freq FROM (
         |      SELECT unnest([ {'l': sy[i], 'r': sy[i+1]} FOR i IN range(1, len(sy)) ]) AS pr, freq
         |      FROM (SELECT string_split(trim(seg, $S), $S||$S) AS sy, freq FROM seg$t)
         |    )
         |  ) GROUP BY l, r
         |  ORDER BY pf DESC, l, r LIMIT 1
         |),
         |seg${t + 1} AS MATERIALIZED (
         |  SELECT replace(seg, $S||b.l||$S||$S||b.r||$S, $S||b.l||b.r||$S) AS seg, freq
         |  FROM seg$t, b$t b
         |)""".stripMargin
    }
    (head +: rounds).mkString(",\n")
  }

  /** 16 merges — must match the literal in the text_bpe gates */
  private val BpeMerges = 16

  def oracles: Map[String, String] = Map(
    // the learned merge table IS the b0..b15 argmax rows
    "text_bpe" -> {
      val union = (0 until BpeMerges).map(t =>
        s"SELECT CAST($t AS INTEGER) AS rank, l AS left, r AS right, pf AS pair_freq FROM b$t")
        .mkString("\nUNION ALL\n")
      s"WITH ${bpeCtesSql(BpeMerges)}\n$union"
    },
    // encode-side replay: every doc token (INCLUDING the empty token an
    // all-whitespace doc yields — it encodes to just '</w>', exactly
    // like BpeEncodeTokens) runs through the same 16 replace()s the
    // learner applied, then per-doc subword totals
    "text_bpe_encode" -> {
      val S = "chr(31)"
      val applied = (0 until BpeMerges).foldLeft("w.seg") { (e, t) =>
        s"replace($e, $S||b$t.l||$S||$S||b$t.r||$S, $S||b$t.l||b$t.r||$S)"
      }
      val bjoins = (0 until BpeMerges).map(t => s"b$t").mkString(", ")
      s"""WITH ${bpeCtesSql(BpeMerges)},
         |dw AS (SELECT doc_id, unnest($toksSql) AS word FROM documents),
         |w AS (
         |  SELECT doc_id, $S || array_to_string(list_append(string_split(word, ''), '</w>'), $S||$S) || $S AS seg
         |  FROM dw
         |),
         |enc AS (
         |  SELECT doc_id, string_split(trim($applied, $S), $S||$S) AS sy
         |  FROM w, $bjoins
         |),
         |fl AS (SELECT doc_id, unnest(sy) AS sw FROM enc)
         |SELECT doc_id, CAST(count(*) AS INTEGER) AS n_subwords,
         |       CAST(count(DISTINCT sw) AS INTEGER) AS n_distinct_subwords
         |FROM fl GROUP BY doc_id""".stripMargin
    },
    // unigram surprisal: the ONLY libm step (-ln) is floor-quantized at
    // 1e-4 micros; over this corpus the nearest floor boundary is
    // ~1.6e-2 away while cross-libm ln() differences are ~1e-12
    // relative — ten orders of magnitude of margin, so the integer
    // micro chain is stable across engines
    "text_surprisal" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY tok),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM vocab),
         |scored AS (
         |  SELECT tok,
         |    CAST(floor(-ln(CAST(n AS DOUBLE) / CAST(nn AS DOUBLE)) * 10000 + 0.5) AS BIGINT) AS micro
         |  FROM vocab, tot
         |),
         |agg AS (
         |  SELECT doc_id, CAST(sum(micro) AS BIGINT) AS m, CAST(count(*) AS BIGINT) AS n_toks
         |  FROM tok JOIN scored USING (tok) GROUP BY doc_id
         |)
         |SELECT doc_id,
         |  floor(CAST(m AS DOUBLE) / CAST(n_toks AS DOUBLE) + 0.5) / 10000.0 AS mean_surprisal,
         |  n_toks
         |FROM agg""".stripMargin,
    // identical token/regex counts and one shared IEEE score chain
    "text_readability" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(len($toksSql) AS INTEGER) AS n_words,
         |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INTEGER) AS n_sents,
         |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS INTEGER) AS n_syll
         |  FROM documents
         |)
         |SELECT doc_id, n_words, n_sents, n_syll,
         |  ${Tables.quant4Sql(
               // BIGINT product terms: INT32 products overflow (DuckDB
               // errors) once n_words*n_sents ~ 10k — the Spark side
               // multiplies in Long, so must the oracle
               "CAST(CAST(206835 AS BIGINT) * n_sents * n_words " +
               "- CAST(1015 AS BIGINT) * n_words * n_words " +
               "- CAST(84600 AS BIGINT) * n_syll * n_sents AS DOUBLE) " +
               "/ CAST(CAST(1000 AS BIGINT) * n_sents * n_words AS DOUBLE)")} AS flesch
         |FROM c WHERE n_words > 0""".stripMargin,
    "text_keywords" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |sc AS (
         |  SELECT doc_id, tok, CAST(tf AS BIGINT) AS tf,
         |    CAST(tf * ((n_docs * 1000000) // df) AS BIGINT) AS score
         |  FROM tf JOIN df USING (tok) CROSS JOIN n
         |)
         |SELECT doc_id,
         |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INTEGER) AS rnk,
         |  tok, score
         |FROM sc
         |QUALIFY rnk <= 3""".stripMargin,
    "text_collocations" ->
      s"""WITH t AS (SELECT $toksSql AS toks FROM documents),
         |p AS (
         |  SELECT unnest([{'x': toks[i], 'y': toks[i+1]} FOR i IN range(1, len(toks))]) AS b
         |  FROM t WHERE len(toks) >= 2
         |),
         |pp AS (SELECT b.x AS x, b.y AS y FROM p),
         |cxy AS (SELECT x, y, count(*) AS c_xy FROM pp GROUP BY x, y),
         |cx AS (SELECT x, count(*) AS c_x FROM pp GROUP BY x),
         |cy AS (SELECT y, count(*) AS c_y FROM pp GROUP BY y),
         |tot AS (SELECT count(*) AS n_total FROM pp)
         |SELECT x, y, c_xy,
         |  CAST(CAST(CAST(c_xy AS DOUBLE) * CAST(n_total AS DOUBLE) /
         |    (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)) AS DECIMAL(18,4)) AS DOUBLE) AS lift
         |FROM cxy JOIN cx USING (x) JOIN cy USING (y) CROSS JOIN tot
         |WHERE c_xy >= 5
         |ORDER BY lift DESC, x, y LIMIT 20""".stripMargin,
    // identical hash → bucket → integer-milli weight chain; the sum of
    // longs is order-independent so the hash compares exactly
    "text_classifier" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |w AS (
         |  SELECT doc_id,
         |    ((CAST(('0x' || substring(md5(tok), 1, 4)) AS BIGINT) % 1024)
         |      * 2654435761) % 2003 - 1001 AS w
         |  FROM tok
         |)
         |SELECT doc_id,
         |  CAST(sum(w) AS DOUBLE) / CAST(count(*) * 1000 AS DOUBLE) AS logit,
         |  sum(w) > 0 AS keep
         |FROM w GROUP BY doc_id""".stripMargin,
    "text_chunk" ->
      s"""WITH $chunkCtesSql
         |SELECT doc_id, CAST(u.ci AS INTEGER) AS chunk_idx,
         |  CAST(len(u.ch) AS INTEGER) AS chunk_tokens,
         |  array_to_string(u.ch, ' ') AS chunk_text
         |FROM c""".stripMargin,
    "text_langid" -> langidSql,
    "text_lang_confusion" ->
      s"""WITH p AS ($langidSql),
         |c AS (SELECT lang, lang_pred, count(*) AS n FROM p GROUP BY 1, 2)
         |SELECT lang, lang_pred, n,
         |  CAST((n * 10000) // (sum(n) OVER (PARTITION BY lang)) AS BIGINT) AS share_bp
         |FROM c""".stripMargin,
    // identical ranges and tie priority; len(regexp_extract_all) = count
    "text_script" ->
      """WITH c AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS n_chars,
        |    CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT) AS n_latin,
        |    CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
        |    CAST(len(regexp_extract_all(text, '[\x{0400}-\x{04FF}]')) AS BIGINT) AS n_cyrillic,
        |    CAST(len(regexp_extract_all(text, '[\x{4E00}-\x{9FFF}]')) AS BIGINT) AS n_cjk,
        |    CAST(len(regexp_extract_all(text, '[\x{0600}-\x{06FF}]')) AS BIGINT) AS n_arabic
        |  FROM documents
        |)
        |SELECT *,
        |  CASE
        |    WHEN n_cjk > 0 AND n_cjk >= greatest(n_latin, n_cyrillic, n_arabic) THEN 'cjk'
        |    WHEN n_cyrillic > 0 AND n_cyrillic >= greatest(n_latin, n_arabic) THEN 'cyrillic'
        |    WHEN n_arabic > 0 AND n_arabic >= n_latin THEN 'arabic'
        |    WHEN n_latin > 0 THEN 'latin'
        |    ELSE 'unknown' END AS script
        |FROM c""".stripMargin,
    // unpurged frequent-items counts are exact -> the literal trigram
    // multiset top-k is the oracle
    "text_heavy_hitters" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (SELECT unnest(CASE WHEN len(toks) >= 3
         |  THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks) - 1)]
         |  ELSE [] END) AS term FROM t)
         |SELECT term, count(*) AS n FROM g
         |GROUP BY term ORDER BY n DESC, term LIMIT 25""".stripMargin,
    "text_tokens" ->
      s"""SELECT doc_id,
         |  CAST(len($toksSql) AS INTEGER) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS INTEGER) AS n_bpe,
         |  CAST(length(text) AS INTEGER) AS n_chars_actual
         |FROM documents""".stripMargin,
    "text_quality" ->
      s"""WITH $qualityCtesSql
         |SELECT doc_id, uniq_ratio, stop_ratio, punct_ratio, $qualityExprSql AS quality
         |FROM f""".stripMargin,
    "text_fingerprint" ->
      "SELECT doc_id, md5(text) AS fp_md5 FROM documents",
    // same trigram shingles, same 15-hex-digit md5 hash, same w=4
    // sliding min; docs with no fingerprints (< 3 tokens) drop out of
    // the unnest on both sides
    "text_winnowing" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |h AS (
         |  SELECT doc_id, CASE WHEN len(toks) >= 3
         |    THEN [CAST(('0x' || substring(md5(array_to_string(toks[i:i+2], ' ')), 1, 15)) AS BIGINT)
         |          FOR i IN range(1, len(toks) - 1)]
         |    ELSE [] END AS hs
         |  FROM t
         |), sel AS (
         |  SELECT doc_id, list_distinct(CASE
         |      WHEN len(hs) >= 4 THEN [list_min(hs[i:i+3]) FOR i IN range(1, len(hs) - 2)]
         |      WHEN len(hs) >= 1 THEN [list_min(hs)]
         |      ELSE [] END) AS fps
         |  FROM h
         |)
         |SELECT doc_id, unnest(fps) AS fp FROM sel""".stripMargin,
    "text_topterms" ->
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS tok FROM documents)
         |SELECT tok, count(*) AS doc_freq FROM t
         |GROUP BY tok ORDER BY doc_freq DESC, tok LIMIT 20""".stripMargin,
    "text_scrub" ->
      """SELECT doc_id,
        |  md5(regexp_replace(regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g'),
        |      '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g')) AS scrubbed_md5,
        |  CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS INTEGER) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS INTEGER) AS n_emails
        |FROM documents""".stripMargin,
    "text_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
         |    THEN [toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]
         |    ELSE [] END) AS gram
         |  FROM t
         |),
         |c AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram)
         |SELECT doc_id, CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top_bigram_ratio
         |FROM c GROUP BY doc_id""".stripMargin,
    "text_gopher" -> {
      def gramCte(n: Int): String =
        s"""g$n AS (
           |  SELECT doc_id, unnest([array_to_string(toks[i:i+${n - 1}], ' ') FOR i IN range(1, len(toks) - ${n - 2})]) AS gram
           |  FROM t WHERE len(toks) >= 5
           |),
           |c$n AS (SELECT doc_id, count(*) AS c FROM g$n GROUP BY doc_id, gram),
           |r$n AS (
           |  SELECT doc_id,
           |    CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS top$n,
           |    CAST(coalesce(sum(c) FILTER (c >= 2), 0) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS dup$n
           |  FROM c$n GROUP BY doc_id
           |)""".stripMargin
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |${gramCte(2)},
         |${gramCte(3)},
         |${gramCte(4)}
         |SELECT r2.doc_id, r2.top2 AS top2_ratio, r3.top3 AS top3_ratio,
         |  r4.top4 AS top4_ratio, r2.dup2 AS dup2_frac
         |FROM r2 JOIN r3 USING (doc_id) JOIN r4 USING (doc_id)""".stripMargin
    },
    // same chunk walk as text_chunk, then min-(doc_id, chunk_idx) per
    // chunk hash
    "dedup_chunks" ->
      s"""WITH $chunkCtesSql,
         |h AS (
         |  SELECT doc_id, CAST(u.ci AS INTEGER) AS chunk_idx,
         |    md5(array_to_string(u.ch, ' ')) AS chunk_md5
         |  FROM c)
         |SELECT doc_id, chunk_idx, chunk_md5 FROM h
         |QUALIFY row_number() OVER (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_idx) = 1""".stripMargin,
    "corpus_stats" ->
      s"""WITH $qualityCtesSql
         |SELECT lang, source, count(*) AS n_docs,
         |  CAST(sum(len(toks)) AS BIGINT) AS n_tokens,
         |  CAST(sum(CAST(floor(($qualityExprSql) * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 10000.0 / CAST(count(*) AS DOUBLE) AS mean_quality
         |FROM f GROUP BY lang, source""".stripMargin,
    "sample_quota" ->
      """SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS INTEGER) AS rn
        |FROM documents QUALIFY rn <= 15""".stripMargin,
    "sample_split" ->
      """SELECT doc_id,
        |  CASE WHEN CAST(('0x' || substring(md5(text), 1, 4)) AS INTEGER) % 10 < 9
        |       THEN 'train' ELSE 'val' END AS split
        |FROM documents""".stripMargin,
    "text_token_lengths" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |h AS (SELECT CAST(length(tok) AS INTEGER) AS tok_len, count(*) AS n FROM t GROUP BY 1)
         |SELECT tok_len, n,
         |  CAST((n * 10000) // (sum(n) OVER ()) AS BIGINT) AS share_bp
         |FROM h""".stripMargin,
    "docs_profile" ->
      """SELECT 'text' AS "column", count(CASE WHEN text IS NULL THEN 1 END) AS n_null,
        |  count(CASE WHEN text = '' THEN 1 END) AS n_empty,
        |  count(DISTINCT text) AS n_distinct FROM documents
        |UNION ALL
        |SELECT 'lang', count(CASE WHEN lang IS NULL THEN 1 END),
        |  count(CASE WHEN lang = '' THEN 1 END), count(DISTINCT lang) FROM documents
        |UNION ALL
        |SELECT 'source', count(CASE WHEN source IS NULL THEN 1 END),
        |  count(CASE WHEN source = '' THEN 1 END), count(DISTINCT source) FROM documents""".stripMargin,
    "text_vocab_growth" ->
      s"""WITH t AS (SELECT doc_id, unnest($toksSql) AS tok FROM documents),
         |n AS (SELECT count(*) AS nd FROM documents),
         |sp AS (
         |  SELECT CAST(range AS INTEGER) AS checkpoint, (range * nd) // 10 AS cut
         |  FROM range(1, 11) CROSS JOIN n
         |),
         |v AS (SELECT tok, min(doc_id) AS first_doc FROM t GROUP BY tok),
         |vc AS (
         |  SELECT checkpoint, count(*) AS vocab
         |  FROM v JOIN sp ON first_doc < cut GROUP BY checkpoint
         |),
         |dt AS (SELECT doc_id, count(*) AS nt FROM t GROUP BY doc_id),
         |tc AS (
         |  SELECT checkpoint, CAST(sum(nt) AS BIGINT) AS total_tokens
         |  FROM dt JOIN sp ON doc_id < cut GROUP BY checkpoint
         |)
         |SELECT checkpoint, total_tokens, vocab FROM vc JOIN tc USING (checkpoint)""".stripMargin,
    "docs_source_quality" ->
      s"""WITH ${qualityCtesSql},
         |d AS (
         |  SELECT source,
         |    CAST(floor(($qualityExprSql) * 10000 + 0.5) AS BIGINT) AS qfp
         |  FROM f
         |)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(qfp) // count(*) AS BIGINT) AS mean_qfp,
         |  ${Tables.quant4Sql("quantile_cont(qfp, 0.5)")} AS p50_qfp,
         |  CAST((count(CASE WHEN qfp < 6000 THEN 1 END) * 10000) // count(*) AS BIGINT) AS reject_bp
         |FROM d GROUP BY source""".stripMargin,
    // shingle-set semantics replayed on the raw strings (the Spark side
    // hashes only to shrink the shuffle; collisions ~ m^2/2^64)
    "text_ngram_novelty" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |sh AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) >= 3
         |      THEN [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] FOR i IN range(1, len(toks)-1)]
         |      ELSE [] END)) AS g
         |  FROM t
         |),
         |f AS (SELECT g, min(doc_id) AS first_doc FROM sh GROUP BY g)
         |SELECT sh.doc_id, count(*) AS n_shingles,
         |  count(*) FILTER (first_doc = sh.doc_id) AS n_novel,
         |  CAST((count(*) FILTER (first_doc = sh.doc_id)) * 10000 // count(*) AS BIGINT) AS novelty_bp
         |FROM sh JOIN f USING (g)
         |GROUP BY sh.doc_id""".stripMargin,
    "sample_curriculum" ->
      s"""WITH ${qualityCtesSql},
         |d AS (
         |  SELECT doc_id,
         |    CAST(floor(($qualityExprSql) * 10000 + 0.5) AS BIGINT) AS qfp
         |  FROM f
         |), th AS (
         |  SELECT quantile_cont(qfp, [0.25, 0.5, 0.75]) AS q FROM d
         |), staged AS (
         |  SELECT doc_id, qfp, md5('cur:' || CAST(doc_id AS VARCHAR)) AS h,
         |    CAST(CASE WHEN CAST(qfp AS DOUBLE) > q[3] THEN 1
         |              WHEN CAST(qfp AS DOUBLE) > q[2] THEN 2
         |              WHEN CAST(qfp AS DOUBLE) > q[1] THEN 3 ELSE 4 END AS INTEGER) AS stage
         |  FROM d CROSS JOIN th
         |)
         |SELECT doc_id, stage,
         |  CAST(row_number() OVER (PARTITION BY stage ORDER BY h, doc_id) AS INTEGER) AS pos,
         |  qfp
         |FROM staged""".stripMargin,
    "sample_shards" ->
      """WITH h AS (
        |  SELECT doc_id, md5('shard:' || CAST(doc_id AS VARCHAR)) AS h FROM documents
        |)
        |SELECT doc_id,
        |  CAST(CAST(('0x' || substring(h, 1, 4)) AS INTEGER) % 8 AS INTEGER) AS shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY CAST(('0x' || substring(h, 1, 4)) AS INTEGER) % 8
        |    ORDER BY h, doc_id) AS INTEGER) AS pos
        |FROM h""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang,
        |  CAST(row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS INTEGER) AS rn
        |FROM documents
        |QUALIFY rn <= 20""".stripMargin)
}
