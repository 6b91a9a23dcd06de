package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Text analysis for large-scale training-data pipelines over the
  * `documents` table: tokenization, quality scoring, language-ID
  * heuristics, and document fingerprinting (rolling hash).
  *
  * All operators are per-row expression pipelines (codegen-friendly
  * higher-order functions, no UDFs, no shuffles except final ordering) —
  * they scale linearly with data and never concentrate on the driver.
  * The rolling hash uses arithmetic mod 1e9+7 so the identical
  * computation is expressible in the DuckDB oracle.
  */
object TextOps {

  /** Tokens = whitespace split with empties removed (BPE-ish regex splits
    * would shift per-engine; plain space split is oracle-stable). */
  private val toks = "filter(split(text, ' '), x -> x <> '')"

  /** Per-document word statistics (`WordCensus.StatsFields`: n,
    * n_distinct, max_cnt, sum_len, stop_hits over `stops`, slc) beside
    * the `keep` columns, from one compiled `word_stats` pass per document
    * over the same tokens as `toks` — no explode, no shuffle. A document
    * without tokens is dropped, as the relational census (explode, then
    * group) never yields a row for it. The drop tests the text itself
    * (n > 0 ⇔ the text holds a character other than U+0020): a filter on
    * the stats struct would be pushed below the projection with the
    * kernel substituted in, running it twice per document. */
  private[graft] def wordStats(docs: DataFrame, keep: String*): DataFrame = {
    val stops = "the,a,and,of,to"
    docs.filter(trim(col("text")) =!= "")
      .select(keep.map(col) :+ expr(s"word_stats(text, '$stops')").as("ws"): _*)
      .select(keep.map(col) ++ graft.functions.WordCensus.StatsFields.map(f => col(s"ws.$f")): _*)
  }

  /** ONE SQL text shared by the Spark run and the DuckDB oracle (t15):
    * both engines return identical md5 hex, and hex substrings compare
    * lexicographically, so the split is bit-identical cross-engine. */
  private val TrainSplitSql = """
    WITH tagged AS (
      SELECT doc_id, n_chars,
        CASE WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < 'cd' THEN 'train'
             WHEN substring(md5(CAST(doc_id AS STRING)), 1, 2) < 'e7' THEN 'val'
             ELSE 'test' END AS split
      FROM documents)
    SELECT split, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS total_chars,
      round(CAST(count(*) AS DOUBLE)
            / (SELECT count(*) FROM documents), 4) AS share
    FROM tagged GROUP BY split ORDER BY split"""

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- t27: BPE TRAINER + ENCODER, the real iterative algorithm
    //    (Sennrich et al. 2016): R rounds of [count adjacent token
    //    pairs → merge the most frequent pair everywhere → re-count].
    //    t16 ranks pairs from ONE census; t27 actually APPLIES each
    //    merge and re-counts, so later merges see earlier ones (the
    //    't'+'h' → 'th'+'e' chain) and the corpus is encoded as it
    //    trains. Scale + plan shape:
    //     * all mutable state lives in the WORD CENSUS (distinct word →
    //       freq, current token string) — Heaps-law small however big
    //       the corpus; the corpus itself is read ONCE at round 0;
    //     * each round is two map-side-combined aggregates over the
    //       census plus a 1-row broadcast crossJoin of the winning pair
    //       into the rewrite — the winner never touches the driver;
    //     * per-round localCheckpoint cuts the 8-round lineage (the
    //       r-family fixpoint spool discipline).
    //    Token boundaries ride a chr(1) separator with sentinels at
    //    both ends, so replace(sep‖x‖sep‖y‖sep → sep‖xy‖sep) is
    //    token-exact; both engines' replace() scans left-to-right and
    //    never rescans the replacement, which IS BPE's leftmost-first
    //    application order for a self-chaining pair. Output: one row
    //    per merge rank — the learned rule, its pair count, and the
    //    corpus token count after applying it (compression falls
    //    monotonically) --
    // -- the natural-but-slow filter spelling, deliberately NOT
    //    hand-bound: BindExpensiveFilterRule's first production user
    //    (r17 verdict #3). `size(split(text, ' '))` is referenced
    //    twice in the filter, so after predicate pushdown inlines the
    //    derivation the Filter would tokenize every corpus row TWICE
    //    (the f09 substitution class, PROF_r16); the installed
    //    optimizer rule binds the repeated chain into
    //    `exists(array(size(split(..))), t -> t >= 30 AND t <= 400)`
    //    — one tokenize per row — while the cheap lang equality stays
    //    a conjunct that reaches the scan's PushedFilters.
    //    PlanShapeSpec pins the fired shape (exists present, one
    //    split per filter line, lang pushed); KernelFilterSpec gates
    //    the class for the whole t-family per `sbt test` run --
    "t28_natural_filter" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .filter(col("lang") === "en" &&
          size(split(col("text"), " ")) >= 30 &&
          size(split(col("text"), " ")) <= 400)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },

    "t27_bpe_train_encode" -> { (s, dir) =>
      val toksOf = "filter(split(rep, chr(1)), z -> z <> '')"
      var census = Tables.df(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .withColumn("rep",
          expr("concat(chr(1), regexp_replace(w, '(.)', concat('$1', chr(1))))"))
        .localCheckpoint()
      val mergeRows = (1 to 8).map { r =>
        val base = census
        val pairs = base
          .select(col("freq"), expr(toksOf).as("toks"))
          .filter(size(col("toks")) >= 2)
          .select(col("freq"), explode(expr(
            "transform(sequence(1, size(toks) - 1), i -> struct(toks[i - 1] AS x, toks[i] AS y))"))
            .as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"), col("freq"))
        // r19 (guide §5 — don't compute twice): best is consumed TWICE —
        // broadcast into this round's census rebuild now, and again when
        // the final unioned result executes. Unspooled, the second read
        // re-ran the round's pairs explode+aggregate (the corpus-vocab-
        // sized work) from the census checkpoint — 8 extra explode passes
        // per query execution. The spool is one row.
        val best = pairs.groupBy(col("x"), col("y"))
          .agg(sum(col("freq")).cast("bigint").as("n"))
          .orderBy(col("n").desc, col("x"), col("y"))
          .limit(1)
          .localCheckpoint()
        census = base.crossJoin(broadcast(best.select(col("x"), col("y"))))
          .withColumn("rep", expr(
            "replace(rep, concat(chr(1), x, chr(1), y, chr(1)), concat(chr(1), x, y, chr(1)))"))
          .select(col("w"), col("freq"), col("rep"))
          .localCheckpoint()
        val stat = census.agg(
          sum(expr(s"freq * size($toksOf)")).cast("bigint").as("corpus_tokens"))
        best.withColumn("merge_rank", lit(r)).crossJoin(stat)
      }
      mergeRows.reduce(_ unionByName _)
        .select(col("merge_rank"),
          concat(col("x"), lit("+"), col("y")).as("rule"),
          col("n").as("pair_freq"), col("corpus_tokens"))
        .orderBy(col("merge_rank"))
    },

    // -- t26: DICTIONARY language ID driven by the FTS config registry —
    //    the classic stopword-evidence classifier (every curation
    //    pipeline's cheap first-pass langid; CLD/langdetect's prior):
    //    each language CONFIG contributes its stoplist, a doc's language
    //    is the config whose stopwords it hits most. Because both hit
    //    counts share the doc's token denominator, the argmax is decided
    //    on EXACT integer counts — no rates, no ties by rounding. Run
    //    over the bilingual corpus (English documents ∪ f17's French
    //    mini-corpus); the census shows the decision matrix per source.
    //    Adding a language to the registry grows the classifier with
    //    ZERO code changes — the classifier below and its oracle both
    //    FOLD OVER THE REGISTRY (sorted config keys): evidence columns,
    //    the argmax CASE, and the output sums are all generated from
    //    the config list, so f18's russian entry (the first non-Latin
    //    script) appeared here by adding its corpus line alone --
    "t26_config_langid" -> { (s, dir) =>
      import s.implicits._
      val langs = T26Langs
      val lowToks = "filter(split(lower(text), ' '), x -> x <> '')"
      val docs = Seq(
        "fr_corpus" -> FullText.FrenchCorpus,
        "ru_corpus" -> FullText.RussianCorpus)
        .map { case (src, corpus) =>
          corpus.toDF("doc_id", "text").select(lit(src).as("source"), col("text"))
        }
        .foldLeft(Tables.df(s, dir, "documents")
          .select(lit("en_corpus").as("source"), col("text")))(_ unionByName _)
      val withHits = langs.foldLeft(docs) { (d, l) =>
        d.withColumn(s"${l.take(2)}_hits", expr(
          s"size(filter($lowToks, t -> array_contains(${FullText.FtsConfig(l).stopArr}, t)))")
          .cast("long"))
      }
      withHits
        .withColumn("pred", expr(t26PredCase(langs)))
        .groupBy(col("source"), col("pred"))
        .agg(count(lit(1)).as("n_docs"),
          langs.map(l => sum(col(s"${l.take(2)}_hits")).as(s"${l.take(2)}_hits_sum")): _*)
        .orderBy(col("source"), col("pred"))
    },

    // -- token counting --
    "t01_token_stats" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .select(
          col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("bigint").as("n_distinct_tokens"),
          round(expr("aggregate(toks, 0L, (a, x) -> a + length(x))").cast("double")
            / greatest(size(col("toks")), lit(1)), 6).as("avg_token_len"))
        .orderBy(col("doc_id"))
    },

    // -- quality scoring: length / punctuation / stopword ratios --
    "t02_quality_score" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("n_toks", greatest(size(col("toks")), lit(1)))
        .select(
          col("doc_id"),
          col("n_chars"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          round((length(col("text")) - length(translate(col("text"), ".,!?;:", ""))).cast("double")
            / greatest(length(col("text")), lit(1)), 6).as("punct_ratio"),
          round(expr("size(filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it')))").cast("double")
            / col("n_toks"), 6).as("stopword_ratio"),
          round(size(array_distinct(col("toks"))).cast("double") / col("n_toks"), 6).as("ttr"))
        .orderBy(col("doc_id"))
    },

    // -- language-ID heuristic: marker-token votes, deterministic argmax --
    "t03_langid" -> { (s, dir) =>
      val scored = Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("en_score", expr("size(filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'is')))"))
        .withColumn("de_score", expr("size(filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ist')))"))
        .withColumn("es_score", expr("size(filter(toks, x -> x IN ('el', 'la', 'los', 'y', 'es')))"))
        .withColumn("fr_score", expr("size(filter(toks, x -> x IN ('le', 'la', 'les', 'et', 'est')))"))
      scored.select(
          col("doc_id"),
          col("lang").as("labeled_lang"),
          when(col("de_score") > col("en_score") && col("de_score") >= col("es_score")
               && col("de_score") >= col("fr_score"), "de")
            .when(col("es_score") > col("en_score") && col("es_score") > col("de_score")
               && col("es_score") >= col("fr_score"), "es")
            .when(col("fr_score") > col("en_score") && col("fr_score") > col("de_score")
               && col("fr_score") > col("es_score"), "fr")
            .otherwise("en").as("detected_lang"),
          col("en_score").cast("bigint").as("en_score"))
        .orderBy(col("doc_id"))
    },

    // -- document fingerprint: rolling polynomial hash mod 1e9+7 --
    "t04_fingerprint" -> { (s, dir) =>
      // native codegen rolling hash (graft.functions.StrHash) — one
      // primitive loop per document; same value as the oracle's
      // per-character list_reduce
      Tables.df(s, dir, "documents")
        .select(
          col("doc_id"),
          expr("str_hash31(text)").as("fingerprint"),
          md5(col("text")).as("text_md5"))
        .orderBy(col("doc_id"))
    },

    // -- BPE-ish regex tokenization: letter runs / digit runs / single
    //    punctuation, the pre-tokenizer split LLM tokenizers apply
    //    before BPE merges; per-row regexp_extract_all, codegen'd --
    "t06_bpe_tokens" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("pieces",
          expr("""regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]', 0)"""))
        .select(
          col("doc_id"),
          size(col("pieces")).cast("bigint").as("n_pieces"),
          size(expr("filter(pieces, x -> x rlike '^[A-Za-z]+$')")).cast("bigint").as("n_word_pieces"),
          size(expr("filter(pieces, x -> x rlike '^[0-9]+$')")).cast("bigint").as("n_num_pieces"),
          round(expr("aggregate(pieces, 0L, (a, x) -> a + length(x))").cast("double")
            / greatest(size(col("pieces")), lit(1)), 6).as("avg_piece_len"))
        .orderBy(col("doc_id"))
    },

    // -- quality-filter decision: the keep/drop gate a training-data
    //    pipeline derives from the t02 signals --
    "t07_quality_filter" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("n_toks", greatest(size(col("toks")), lit(1)))
        .withColumn("punct_ratio",
          (length(col("text")) - length(translate(col("text"), ".,!?;:", ""))).cast("double")
            / greatest(length(col("text")), lit(1)))
        .withColumn("ttr", size(array_distinct(col("toks"))).cast("double") / col("n_toks"))
        .select(
          col("doc_id"),
          (col("n_toks") >= 10).cast("int").as("len_ok"),
          (col("punct_ratio") <= 0.1).cast("int").as("punct_ok"),
          (col("ttr") >= 0.3).cast("int").as("diversity_ok"),
          (col("n_toks") >= 10 && col("punct_ratio") <= 0.1 && col("ttr") >= 0.3)
            .cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },

    // -- PII scrubbing: regex redaction with an audit count (reference
    //    regex engine: `src/backend/utils/adt/regexp.c`; the corpus has no
    //    real PII, so deterministic synthetic contact strings are appended
    //    per doc and then scrubbed — the op under test is the scrub) --
    "t08_pii_scrub" -> { (s, dir) =>
      val email = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
      val phone = "[0-9]{3}-[0-9]{4}"
      Tables.df(s, dir, "documents")
        .withColumn("dirty", concat(
          col("text"),
          lit(" contact user"), col("doc_id"),
          lit("@mail"), pmod(col("doc_id"), lit(7)), lit(".com"),
          lit(" tel 555-"), lpad(pmod(col("doc_id") * 37, lit(10000)).cast("string"), 4, "0")))
        .select(
          col("doc_id"),
          regexp_count(col("dirty"), lit(email)).cast("bigint").as("n_emails"),
          regexp_count(col("dirty"), lit(phone)).cast("bigint").as("n_phones"),
          md5(regexp_replace(regexp_replace(col("dirty"), email, "[EMAIL]"),
            phone, "[PHONE]")).as("scrub_md5"))
        .orderBy(col("doc_id"))
    },

    // -- token-length histogram: PG width_bucket (`src/backend/utils/adt/
    //    numeric.c` width_bucket_numeric) over per-doc token counts --
    "t09_token_histogram" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("n_tokens", size(expr(toks)))
        .withColumn("bucket", expr("width_bucket(CAST(n_tokens AS DOUBLE), 0D, 120D, 12)"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n_docs"),
          min(col("n_tokens")).cast("bigint").as("min_tokens"),
          max(col("n_tokens")).cast("bigint").as("max_tokens"),
          round(avg(col("n_chars")), 6).as("avg_chars"))
        .orderBy(col("bucket"))
    },

    // -- word frequency: explode + top-k (ProjectSet ≙ Generator) --
    "t05_top_words" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .select(explode(expr(toks)).as("word"))
        .groupBy(col("word"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word"))
        .limit(30)
    },

    // -- TF-IDF: the classic relevance weight a training-data pipeline
    //    derives before dedup/quality ranking. DF and the corpus size are
    //    corpus-wide aggregates (two map-side-combined shuffles on term);
    //    the per-doc TF slice is tiny and BROADCAST into the DF join, so
    //    the big side streams through exactly once. Ranking ties break on
    //    integers (tf desc, df asc, term), never on a float --
    "t10_tfidf" -> { (s, dir) =>
      val docs = Tables.df(s, dir, "documents").withColumn("toks", expr(toks))
      val terms = docs.select(col("doc_id"), explode(col("toks")).as("term"))
      // corpus-wide document frequency: (doc, term) dedup then term count
      val dfreq = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val byTerm = dfreq.groupBy("term").agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val tfSel = dfreq.filter(col("doc_id") <= 50)
      byTerm.join(broadcast(tfSel), Seq("term"))
        .crossJoin(broadcast(nDocs))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
            .orderBy(col("tf").desc, col("df").asc, col("term"))))
        .filter(col("rn") <= 5)
        .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rn").cast("bigint").as("rn"),
          round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 6).as("tfidf"))
        .orderBy(col("doc_id"), col("rn"))
    },

    // -- suffix-stripping stemmer (Porter step-1-lite): the text
    //    normalization pass search/dedup pipelines run before indexing.
    //    Pure per-row transform lambda — identical CASE ladder in the
    //    oracle, so stemmed output md5s match cross-engine --
    // -- URL analysis (the provenance pass of a web-corpus pipeline:
    //    host/path/query decomposition + per-host rollups). URLs are
    //    synthesized deterministically from doc_id+source; the Spark
    //    side decomposes with the native parse_url expression
    //    (codegen'd; PG analog: the URI parsing userland does with
    //    substring/regexp over text, varlena.c) while the oracle
    //    re-derives the same components with regexp — an independent
    //    derivation, so the check validates parse_url itself --
    "t13_url_stats" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("url", expr(
          """concat('https://', source, '.example.com/sec',
                    CAST(doc_id % 7 AS STRING), '/doc', CAST(doc_id AS STRING),
                    CASE WHEN doc_id % 3 = 0 THEN '?ref=feed' ELSE '' END)"""))
        .select(
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY')").as("query"))
        .groupBy(col("host"))
        .agg(
          count(lit(1)).as("n_docs"),
          countDistinct(expr("regexp_extract(path, '^/(sec[0-9]+)/', 1)"))
            .as("n_sections"),
          sum(when(col("query") === "ref=feed", 1L).otherwise(0L))
            .as("n_ref"),
          max(length(col("path"))).cast("bigint").as("max_path_len"))
        .orderBy(col("host"))
    },

    // -- t20: URL BLOCKLIST filtering — the domain deny-list stage of a
    //    crawl-curation pipeline (Dolma/RefinedWeb run UT1-style
    //    blocklists before any content filter). Matching is
    //    SUFFIX-based, the way domain lists work (an entry blocks the
    //    domain and every subdomain): host == entry OR host ends with
    //    '.'+entry. The deny list is a handful of rows — broadcast by
    //    construction at any corpus size — and the corpus streams once
    //    through a codegen'd exists() over the broadcast array; the
    //    output is the per-source admission report plus the match rule
    //    that fired. src3/src7 block by exact host, 'example.org'
    //    exercises the empty-suffix branch --
    "t20_url_blocklist" -> { (s, dir) =>
      val blocked = Seq("src3.example.com", "src7.example.com", "example.org")
      val arr = blocked.map("'" + _ + "'").mkString("array(", ",", ")")
      Tables.df(s, dir, "documents")
        .withColumn("host", expr("concat(source, '.example.com')"))
        .withColumn("blocked", expr(
          s"exists($arr, b -> host = b OR host LIKE concat('%.', b))"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("blocked").cast("long")).as("n_blocked"),
          sum((!col("blocked")).cast("long")).as("n_admitted"))
        .orderBy(col("source"))
    },

    "t12_stemming" -> { (s, dir) =>
      val stem = """transform(toks, w ->
          CASE WHEN w LIKE '%sses' THEN substring(w, 1, length(w) - 2)
               WHEN w LIKE '%ies' AND length(w) > 4
                 THEN concat(substring(w, 1, length(w) - 3), 'y')
               WHEN w LIKE '%ss' THEN w
               WHEN w LIKE '%s' AND length(w) > 3 THEN substring(w, 1, length(w) - 1)
               WHEN w LIKE '%ing' AND length(w) > 5 THEN substring(w, 1, length(w) - 3)
               WHEN w LIKE '%ed' AND length(w) > 4 THEN substring(w, 1, length(w) - 2)
               ELSE w END)"""
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr("filter(split(lower(text), ' '), x -> x <> '')"))
        .withColumn("stemmed", expr(stem))
        .select(
          col("doc_id"),
          size(col("toks")).cast("bigint").as("n_tokens"),
          expr("size(filter(zip_with(toks, stemmed, (a, b) -> a <> b), x -> x))")
            .cast("bigint").as("n_stemmed"),
          md5(concat_ws(" ", col("stemmed"))).as("stem_md5"))
        .orderBy(col("doc_id"))
    },

    // -- repetition signals (Gopher-style quality filters): top-token
    //    share and duplicate-token fraction, entirely per-row HOFs —
    //    no explode, no shuffle, linear scan at any scale --
    // -- t14: Gopher-style rule-based quality gate --
    // The published pretraining quality filters (Gopher §A1.1 / Dolma)
    // as one declarative pass: word-count bounds, mean-word-length
    // bounds, minimum stopword evidence, and a max-token-repetition cap,
    // each surfaced as its own flag plus the conjunctive keep decision.
    // Every signal comes from one compiled word_stats pass per document
    // (wordStats: no explode, no shuffle, no per-row quadratic HOFs);
    // stop_hits counts DISTINCT stopwords present, as a count over
    // (doc, tok) census rows does.
    // -- t15: deterministic hash-based train/val/test split. The
    //    assignment is a pure function of doc_id (first md5 byte against
    //    fixed hex thresholds: < 0xcd train ≈ 80.1%, < 0xe7 val ≈ 10.2%,
    //    else test), so it is reproducible across runs/engines/cluster
    //    sizes, trivially leak-free (a doc can't land in two splits),
    //    and needs NO shuffle to assign — only the tiny per-split rollup
    //    aggregates. Hex-substring comparison avoids any hex→int
    //    conversion dialect difference. --
    "t15_train_split" -> { (s, dir) =>
      Tables.register(s, dir)
      s.sql(TrainSplitSql)
    },

    // -- t17: heavy-hitters via a Misra-Gries sketch (functions/
    //    MisraGries.scala, capacity 64) AUDITED against the exact word
    //    census — the q61 HLL-audit pattern applied to frequent items.
    //    MG's guarantee is merge-order-independent: every word with
    //    frequency > N/65 MUST be in the sketch, so the top-10 exact
    //    words (all ≈3.3% ≫ 1.54% here) carry a deterministic
    //    in_sketch = true regardless of partitioning; a broken sketch
    //    (bad decrement, lossy merge) flips it false and fails the
    //    oracle. Scale shape: the sketch ships ≤64 entries per map
    //    task across ONE shuffle — O(1) state vs the census's
    //    O(vocabulary) — which is why a 100 TB corpus-stats job runs
    //    the sketch first and the census only over the survivors. --
    "t17_heavy_hitters" -> { (s, dir) =>
      val words = Tables.df(s, dir, "documents")
        .select(explode(expr(toks)).as("w"))
      val sketch = words.agg(expr("mg64(w)").as("sketch"))
      words.groupBy(col("w")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("w"))
        .limit(10)
        .crossJoin(broadcast(sketch))
        .select(col("w").as("word"), col("n"),
          expr("map_contains_key(sketch, w)").as("in_sketch"))
        .orderBy(col("n").desc, col("word"))
    },

    // -- t16: BPE merge-pair induction — the counting step of tokenizer
    //    TRAINING (t06 only applies a fixed BPE-ish segmentation). The
    //    most frequent adjacent character pair across the corpus is the
    //    next merge rule. Critically the pair counting runs over the
    //    WORD CENSUS (distinct word → frequency), not the raw corpus —
    //    exactly how production BPE trainers are structured: the census
    //    is one map-side-combined aggregate that shrinks 100 TB of text
    //    to a Heaps-law vocabulary, and the pair explosion is O(vocab ×
    //    word length). Words shorter than 2 chars are filtered BEFORE
    //    sequence(1, len-1) (the r6 short-doc sequence(1,0) lesson).
    //    Top-20 via orderBy+limit = TakeOrderedAndProject, never a
    //    global window. --
    "t16_bpe_merge_pairs" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .select(explode(expr(toks)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .filter(length(col("w")) >= 2)
        .select(col("w"), col("freq"),
          explode(expr("sequence(1, length(w) - 1)")).as("i"))
        .select(expr("substring(w, i, 2)").as("pair"), col("freq"))
        .groupBy(col("pair")).agg(sum(col("freq")).cast("bigint").as("n"))
        .orderBy(col("n").desc, col("pair"))
        .limit(20)
    },

    "t14_gopher_rules" -> { (s, dir) =>
      wordStats(Tables.df(s, dir, "documents"), "doc_id")
        .withColumnRenamed("n", "n_words")
        .select(
          col("doc_id"), col("n_words"),
          round(col("sum_len").cast("double") / col("n_words"), 6).as("mean_word_len"),
          col("stop_hits"),
          round(col("max_cnt").cast("double") / col("n_words"), 6).as("top_share"),
          expr("CAST(n_words BETWEEN 20 AND 1000 AS INT)").as("r_wordcount"),
          expr("CAST(CAST(sum_len AS DOUBLE) / n_words BETWEEN 3 AND 10 AS INT)").as("r_meanlen"),
          expr("CAST(stop_hits >= 2 AS INT)").as("r_stopword"),
          expr("CAST(CAST(max_cnt AS DOUBLE) / n_words <= 0.2 AS INT)").as("r_repetition"),
          expr("""CAST(n_words BETWEEN 20 AND 1000
                   AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 3 AND 10
                   AND stop_hits >= 2
                   AND CAST(max_cnt AS DOUBLE) / n_words <= 0.2 AS INT)""").as("keep"))
        .orderBy(col("doc_id"))
    },

    // -- t18: KenLM-style language-model quality scoring — the
    //    perplexity-filter stage of a pretraining pipeline (CCNet/
    //    Gopher): train a char-trigram MLE LM on the corpus itself,
    //    score every doc by average negative log-likelihood. Scale +
    //    exactness shape:
    //     * the LM "training" is two map-side-combined censuses
    //       (trigram and bigram-context counts) — bounded by charset³,
    //       broadcastable no matter the corpus size;
    //     * scoring is one broadcast join per n-gram order, no shuffle
    //       of the corpus;
    //     * each position's log p is QUANTIZED to integer micro-nats
    //       before the per-doc sum, so the aggregate is an exact BIGINT
    //       — immune to float summation order across engines and
    //       partitionings (the q110/money discipline applied to logs) --
    "t18_charlm_score" -> { (s, dir) =>
      // per-(doc, trigram) pre-aggregate BEFORE any spool or join: the
      // position stream (Σ doc lengths) collapses map-side to at most
      // |docs| × |charset³-observed| rows, so the spool, the census,
      // and the scoring join all run census-sized, never corpus-sized
      // (the position-level spool cost 2.8 s of pure stage overhead on
      // a 1.5M-char corpus; this shape is also the 100 TB one — the
      // only full-corpus pass is the single explode+combine)
      // repartition BEFORE the explode: documents arrives as one small
      // split, so without it the position stream runs on a single core;
      // the count must be pinned — bare repartition(col) is
      // REPARTITION_BY_COL, which AQE coalesces back to ONE partition
      // on a 5000-row input, silently single-threading the explode.
      // doc_id partitioning also makes both per-doc aggregates
      // exchange-free (clustering satisfied)
      // char_grams materializes the codepoint array ONCE per doc (the
      // FrameFeats discipline): the former per-position substring(t,i,3)
      // re-walked the string per gram — O(L²) in document length, caught
      // by the r10 length-axis sweep at 4.8× under 64× length
      val dt = Tables.df(s, dir, "documents")
        .repartition(32, col("doc_id"))
        .select(col("doc_id"),
          explode(expr("char_grams(lower(text), 3)")).as("tri"))
        .groupBy(col("doc_id"), col("tri")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // spool: feeds the census AND the scoring join
      // ONE census: the bigram-context count is the prefix-group sum of
      // the trigram census (positions range identically for both orders,
      // so Σ_{c} count(bi·c) = count(bi) exactly) — the second corpus
      // aggregate and its broadcast join fold into census-sized work
      val tc = dt.groupBy(col("tri")).agg(sum(col("cnt")).as("tri_n"))
      val bc = tc.groupBy(expr("substring(tri, 1, 2)").as("bi"))
        .agg(sum(col("tri_n")).as("bi_n"))
      val lm = tc.join(bc, expr("substring(tri, 1, 2)") === col("bi"))
        .select(col("tri"), col("tri_n"), col("bi_n"))
      dt.join(broadcast(lm), Seq("tri"))
        .withColumn("lp_micro",
          expr("CAST(round(ln(CAST(tri_n AS DOUBLE) / bi_n) * 1000000) AS BIGINT)"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_tri"),
          sum(col("cnt") * col("lp_micro")).as("s_micro"))
        .select(col("doc_id"), col("n_tri"),
          round(expr("-(CAST(s_micro AS DOUBLE) / 1000000 / n_tri)"), 6).as("avg_nll"),
          round(expr("exp(-(CAST(s_micro AS DOUBLE) / 1000000 / n_tri))"), 6).as("ppl"))
        .orderBy(col("avg_nll").desc, col("doc_id"))
    },

    "t11_repetition" -> { (s, dir) =>
      // Linear plan (r6 verdict #6): the former
      //   array_max(transform(array_distinct(toks), d -> size(filter(toks, ...))))
      // was O(distinct × len) per document in an interpreted HOF — a
      // 50k-token doc costs ~10⁹ comparisons on one core. explode →
      // count → max is O(tokens), both hash aggregates map-side
      // combined. explode_outer keeps empty docs (null tok row) so the
      // null/zero semantics match the old array formulation exactly:
      // max_cnt is NULL and n_distinct is 0 for an empty token list.
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .select(col("doc_id"), size(col("toks")).as("sz"),
          explode_outer(col("toks")).as("tok"))
        .groupBy(col("doc_id"), col("sz"), col("tok"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"), col("sz"))
        .agg(
          max(when(col("tok").isNotNull, col("cnt"))).as("max_cnt"),
          count(when(col("tok").isNotNull, lit(1))).as("n_distinct"))
        .withColumn("n_toks", greatest(col("sz"), lit(1)))
        .select(
          col("doc_id"),
          col("sz").cast("bigint").as("n_tokens"),
          round(col("max_cnt").cast("double") / col("n_toks"), 6).as("top_token_share"),
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_toks"), 6)
            .as("dup_token_ratio"),
          (col("max_cnt").cast("double") / col("n_toks") <= 0.2 &&
            lit(1.0) - col("n_distinct").cast("double") / col("n_toks") <= 0.5)
            .cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },

    // -- t19: duplicate-5-gram TOKEN coverage — the Gopher §A1.1 /
    //    Dolma repetition filter t11/t14 do NOT cover: the fraction of
    //    the document covered by word 5-grams that occur more than once
    //    (Gopher measures characters; this is the token-coverage
    //    variant, same filter shape). Coverage is the UNION of the
    //    occurrence spans [i, i+4], computed relationally: explode
    //    5-gram starts, keep starts of duplicated grams, and per doc
    //    sum min(5, next_start − start) over the sorted starts — the
    //    interval-union sweep as one window pass (the e12/e14 interval
    //    idiom). Everything is linear in tokens; the window partitions
    //    by doc so state is bounded by document length at any corpus
    //    size --
    "t19_dup_ngram_coverage" -> { (s, dir) =>
      // r13: gram ids ride the word_grams31 kernel (the d-family/d14
      // discipline) — the old transform(sequence...) lambda built a
      // ~25-char gram STRING per position inside a CodegenFallback HOF;
      // now each position is one codegen'd BIGINT (per-token 31-base
      // hash, Horner combine), the dup-census window partitions on an
      // 8-byte key, and the oracle computes the identical arithmetic.
      // emptyOnShort=true: a <5-token doc contributes zero grams (the
      // old CASE guard's semantics).
      val grams = Tables.df(s, dir, "documents")
        .select(col("doc_id"), posexplode(expr("word_grams31(text, 5, true)")))
        .select(col("doc_id"), (col("pos") + 1).as("start"), col("col").as("gram"))
      val dupStarts = grams
        .withColumn("n_occ", count(lit(1))
          .over(Window.partitionBy(col("doc_id"), col("gram"))))
        .filter(col("n_occ") >= 2)
      val covered = dupStarts
        .withColumn("nxt", lead(col("start"), 1)
          .over(Window.partitionBy(col("doc_id")).orderBy(col("start"))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_dup_occ"),
          sum(least(lit(5L), coalesce(col("nxt") - col("start"), lit(5L))))
            .as("covered_toks"))
      Tables.df(s, dir, "documents")
        // token count as size(1-grams): same tokenizer as the kernel,
        // fully codegen (the filter(split(...)) HOF is CodegenFallback)
        .withColumn("n_tokens",
          size(expr("word_grams31(text, 1, true)")).cast("bigint"))
        .select(col("doc_id"), col("n_tokens"))
        .join(covered, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_dup_occ"), lit(0L)).as("n_dup_occ"),
          coalesce(col("covered_toks"), lit(0L)).as("covered_toks"),
          round(coalesce(col("covered_toks"), lit(0L)).cast("double") /
            greatest(col("n_tokens"), lit(1L)), 6).as("dup_frac"),
          (coalesce(col("covered_toks"), lit(0L)).cast("double") /
            greatest(col("n_tokens"), lit(1L)) <= 0.15).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },

    // -- t21: unigram entropy + type-token ratio — the lexical-diversity
    //    quality gate (CCNet/Gopher-family filters drop low-entropy docs:
    //    keyword-stuffed or template pages have H ≪ random text).
    //    Shape: one compiled word_stats pass per document (wordStats)
    //    — the t14/t22 kernel: a hash census per row, linear in doc
    //    length (r12 verdict #1: the earlier per-row
    //    transform(array_distinct, w -> size(filter(toks, =w))) HOF was
    //    O(distinct × length) per row AND CodegenFallback), with no
    //    explode and no shuffle. The Σ c·ln(c) term accumulates in
    //    integer MICRO-NATS (t18's trick) so the sum is exact and
    //    order-free — a double Σ would drift by summation order;
    //    integer addition cannot.
    //    H = ln(n) − Σ c·ln(c) / n, via per-term round(ln(c)·1e6) --
    "t21_word_entropy" -> { (s, dir) =>
      wordStats(Tables.df(s, dir, "documents"), "doc_id")
        .withColumn("entropy", round(
          expr("ln(n) - CAST(slc AS DOUBLE) / (n * 1000000.0)"), 6))
        .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
          col("entropy"),
          round(col("n_distinct").cast("double") / col("n"), 6).as("ttr"),
          (col("entropy") >= 2.0).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    },

    // -- t22: the filtering FUNNEL report — the artifact every curation
    //    pipeline publishes (C4/RefinedWeb/Dolma papers all table it):
    //    ordered gates, each applied to the survivors of the previous,
    //    with per-stage entering/dropped/surviving counts. Stages:
    //    wordcount → langid(en) → stopword evidence → repetition →
    //    unigram entropy. ONE pass: t14's per-document word_stats
    //    yields every signal (entropy's Σc·ln c in integer micro-nats,
    //    t21's exact trick), cumulative flags are plain per-row ANDs,
    //    and the funnel is a single aggregate row unpivoted by stack()
    //    — at 100 TB the report is one scan and moves 5 rows --
    "t22_filter_funnel" -> { (s, dir) =>
      val flags = wordStats(Tables.df(s, dir, "documents"), "lang")
        // entropy gate in INTEGER micro-nats end to end (r8 advice): the
        // raw-double form `ln(n) − slc/(n·1e6) >= 2.0` hinges on libm's
        // ln(n) being bit-identical cross-engine at the boundary; here
        // BOTH sides of the compare are exact BIGINTs built from the same
        // round(ln·1e6) quantization that already defines slc —
        //   H >= 2  ⇔  n·lnμ(n) − slc >= 2e6·n
        // so the only engine-sensitive step is the shared micro-nat
        // rounding itself (the documented t18 discipline)
        .select(
          (col("n").between(20, 1000)).cast("int").as("f1"),
          (col("lang") === "en").cast("int").as("f2"),
          (col("stop_hits") >= 2).cast("int").as("f3"),
          (col("max_cnt").cast("double") / col("n") <= 0.2).cast("int").as("f4"),
          expr("CAST(n * CAST(round(ln(n) * 1000000.0) AS BIGINT) - slc >= 2000000 * n AS INT)").as("f5"))
        .select(col("f1"),
          (col("f1") * col("f2")).as("c2"),
          (col("f1") * col("f2") * col("f3")).as("c3"),
          (col("f1") * col("f2") * col("f3") * col("f4")).as("c4"),
          (col("f1") * col("f2") * col("f3") * col("f4") * col("f5")).as("c5"))
      flags.agg(
          count(lit(1)).as("n0"), sum(col("f1")).as("s1"), sum(col("c2")).as("s2"),
          sum(col("c3")).as("s3"), sum(col("c4")).as("s4"), sum(col("c5")).as("s5"))
        .selectExpr(
          """stack(5,
               1L, 'wordcount',  n0, s1,
               2L, 'langid_en',  s1, s2,
               3L, 'stopwords',  s2, s3,
               4L, 'repetition', s3, s4,
               5L, 'entropy',    s4, s5) AS (stage, gate, entering, surviving)""")
        .selectExpr("stage", "gate", "entering", "surviving",
          "entering - surviving AS dropped",
          "round(CAST(entering - surviving AS DOUBLE) / greatest(entering, 1), 6) AS drop_rate")
        .orderBy(col("stage"))
    },

    // -- t23: KL-divergence novelty — how far each document's unigram
    //    distribution sits from the corpus distribution (the
    //    domain-shift / outlier signal CCNet-style pipelines use to
    //    spot boilerplate farms and off-distribution content).
    //    KL(doc‖corpus) = (1/n)·Σ cnt·(ln cnt − ln cw) + ln N − ln n
    //    — algebra arranged so the Σ is over integer micro-nat terms
    //    (t18/t21's discipline): cnt and cw are exact counts, each
    //    ln is one deterministic IEEE double rounded to 1e-6, and the
    //    sum is BIGINT — order-free under any partitioning. Shape: the
    //    (doc, tok, cnt) census is one compiled word_census pass per
    //    document (no (doc, tok) aggregate), cheap enough to run twice
    //    rather than spool (one-JVM A/B at sf0.1, 4 cores: min of
    //    passes 2-10 0.483 s spooled vs 0.465 s unspooled); the corpus
    //    word-distribution rollup is vocab-sized (Heaps' law —
    //    broadcastable at any corpus scale), joined back broadcast; one
    //    per-doc aggregate. Every doc word is in the corpus by
    //    construction, so no zero-mass smoothing is needed --
    "t23_kl_novelty" -> { (s, dir) =>
      def lnMicro(c: String) = s"CAST(round(ln($c) * 1000000.0) AS BIGINT)"
      val census = Tables.df(s, dir, "documents")
        .select(col("doc_id"), expr("inline(word_census(text))"))
      val corpus = census.groupBy(col("tok")).agg(sum(col("cnt")).as("cw"))
      val tot = corpus.agg(sum(col("cw")).as("ncorp"))
      census.join(broadcast(corpus), Seq("tok"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n"),
          sum(expr(s"cnt * (${lnMicro("cnt")} - ${lnMicro("cw")})")).as("ssum"))
        .crossJoin(broadcast(tot))
        // novelty gate as an exact integer compare (r8 advice, same as
        // t22's f5): KL >= 0.35 ⇔ ssum + n·(lnμ(ncorp) − lnμ(n)) >=
        // 350000·n — all BIGINT, so the keep/novel flag can't flip on a
        // 1-ulp libm difference the displayed (rounded) kl wouldn't show
        .select(col("doc_id"), col("n").as("n_tokens"),
          round(expr("CAST(ssum AS DOUBLE) / (n * 1000000.0) + ln(ncorp) - ln(n)"), 6)
            .as("kl"),
          expr(s"CAST(ssum + n * (${lnMicro("ncorp")} - ${lnMicro("n")}) >= 350000 * n AS INT)")
            .as("novel"))
        .orderBy(col("doc_id"))
    }
  )

  /** 8 unrolled BPE rounds as chained CTEs — the oracle re-derives the
    * identical census/best/rewrite/recount sequence the Spark loop runs. */
  private def t27Oracle: String = {
    val rounds = (1 to 8).map { r =>
      val prev = s"census${r - 1}"
      s"""pairs$r AS (
        SELECT toks[i] AS x, toks[i + 1] AS y, freq
        FROM (SELECT freq,
                list_filter(string_split(rep, chr(1)), z -> z <> '') AS toks
              FROM $prev) c,
          LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
        WHERE len(toks) >= 2),
      best$r AS (
        SELECT x, y, CAST(sum(freq) AS BIGINT) AS n
        FROM pairs$r GROUP BY x, y
        ORDER BY n DESC, x, y LIMIT 1),
      census$r AS (
        SELECT w, freq,
          replace(rep, chr(1) || x || chr(1) || y || chr(1),
                       chr(1) || x || y || chr(1)) AS rep
        FROM $prev, best$r),
      stat$r AS (
        SELECT CAST(sum(freq * len(list_filter(string_split(rep, chr(1)),
          z -> z <> ''))) AS BIGINT) AS corpus_tokens FROM census$r)"""
    }.mkString(",\n      ")
    val rows = (1 to 8).map { r =>
      s"SELECT $r AS merge_rank, x || '+' || y AS rule, n AS pair_freq, corpus_tokens FROM best$r, stat$r"
    }.mkString("\n      UNION ALL\n      ")
    s"""
      WITH census0 AS (
        SELECT w, count(*) AS freq,
          chr(1) || regexp_replace(w, '(.)', '\\1' || chr(1), 'g') AS rep
        FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) t
        WHERE w <> '' GROUP BY w),
      $rounds
      $rows
      ORDER BY merge_rank"""
  }

  /** t26's language list IS the registry (sorted keys — english,
    * french, russian); classifier and oracle both generate from it. */
  private def T26Langs: Seq[String] = FullText.FtsConfig.configs.keys.toSeq.sorted

  /** The deterministic argmax: a language wins only with STRICTLY more
    * stopword evidence than every other; any tie is 'unknown'. */
  private def t26PredCase(langs: Seq[String]): String =
    langs.map { l =>
      val mine = s"${l.take(2)}_hits"
      val beats = langs.filterNot(_ == l)
        .map(o => s"$mine > ${o.take(2)}_hits").mkString(" AND ")
      s"WHEN $beats THEN '$l'"
    }.mkString("CASE ", " ", " ELSE 'unknown' END")

  private def t26Oracle: String = {
    val langs = T26Langs
    val extraCorpora = Seq(
      "fr_corpus" -> FullText.FrenchCorpus,
      "ru_corpus" -> FullText.RussianCorpus)
      .map { case (src, corpus) =>
        val vals = corpus.map { case (_, t) => s"('$src', '$t')" }
          .mkString(",\n          ")
        s"""SELECT * FROM (VALUES
          $vals) v(source, text)"""
      }
      .mkString("\n        UNION ALL\n        ")
    val hitCols = langs.map { l =>
      s"""CAST(len(list_filter(list_filter(string_split(lower(text), ' '), x -> x <> ''),
            t -> list_contains(${FullText.FtsConfig(l).duckStopArr}, t))) AS BIGINT) AS ${l.take(2)}_hits"""
    }.mkString(",\n          ")
    val sumCols = langs.map { l =>
      s"CAST(sum(${l.take(2)}_hits) AS BIGINT) AS ${l.take(2)}_hits_sum"
    }.mkString(",\n        ")
    s"""
      WITH corpus(source, text) AS (
        SELECT 'en_corpus', text FROM documents
        UNION ALL
        $extraCorpora),
      hits AS (
        SELECT source,
          $hitCols
        FROM corpus)
      SELECT source,
        ${t26PredCase(langs)} AS pred,
        count(*) AS n_docs,
        $sumCols
      FROM hits GROUP BY 1, 2 ORDER BY source, pred"""
  }

  def oracle: Map[String, String] = Map(
    "t28_natural_filter" -> """
      SELECT doc_id, n_chars FROM documents
      WHERE lang = 'en'
        AND len(string_split(text, ' ')) >= 30
        AND len(string_split(text, ' ')) <= 400
      ORDER BY doc_id""",
    "t27_bpe_train_encode" -> t27Oracle,
    "t26_config_langid" -> t26Oracle,
    "t15_train_split" -> TrainSplitSql,

    "t18_charlm_score" -> """
      WITH docs AS (SELECT doc_id, lower(text) AS t FROM documents),
      pos AS (
        SELECT doc_id,
               substring(t, CAST(i AS INT), 3) AS tri,
               substring(t, CAST(i AS INT), 2) AS bi
        FROM (SELECT doc_id, t,
                unnest(generate_series(1, greatest(length(t) - 2, 0))) AS i
              FROM docs)),
      tc AS (SELECT tri, count(*) AS tri_n FROM pos GROUP BY tri),
      bc AS (SELECT bi, count(*) AS bi_n FROM pos GROUP BY bi),
      sc AS (
        SELECT doc_id, count(*) AS n_tri,
          CAST(sum(CAST(round(ln(CAST(tri_n AS DOUBLE) / bi_n) * 1000000) AS BIGINT)) AS BIGINT) AS s_micro
        FROM pos JOIN tc USING (tri) JOIN bc USING (bi)
        GROUP BY doc_id)
      SELECT doc_id, n_tri,
        round(-(CAST(s_micro AS DOUBLE) / 1000000 / n_tri), 6) AS avg_nll,
        round(exp(-(CAST(s_micro AS DOUBLE) / 1000000 / n_tri)), 6) AS ppl
      FROM sc ORDER BY avg_nll DESC, doc_id""",
    // the oracle states MG's guarantee: the exact top-10 all exceed
    // N/(k+1), so membership is certain — TRUE, not approximately true
    "t17_heavy_hitters" -> """
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      census AS (
        SELECT w, count(*) AS n FROM toks WHERE w <> '' GROUP BY w)
      SELECT w AS word, n, TRUE AS in_sketch
      FROM census ORDER BY n DESC, word LIMIT 10""",
    "t16_bpe_merge_pairs" -> """
      WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      census AS (
        SELECT w, count(*) AS freq FROM toks WHERE w <> '' GROUP BY w),
      pairs AS (
        SELECT substring(w, i, 2) AS pair, freq
        FROM census,
          LATERAL (SELECT unnest(generate_series(1, length(w) - 1)) AS i) g
        WHERE length(w) >= 2)
      SELECT pair, CAST(sum(freq) AS BIGINT) AS n
      FROM pairs GROUP BY pair
      ORDER BY n DESC, pair LIMIT 20""",
    "t06_bpe_tokens" -> """
      SELECT doc_id,
        CAST(len(pieces) AS BIGINT) AS n_pieces,
        CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[A-Za-z]+$'))) AS BIGINT) AS n_word_pieces,
        CAST(len(list_filter(pieces, x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT) AS n_num_pieces,
        round(CAST(list_sum(list_transform(pieces, x -> length(x))) AS DOUBLE)
          / greatest(len(pieces), 1), 6) AS avg_piece_len
      FROM (SELECT doc_id,
              regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]') AS pieces
            FROM documents) t
      ORDER BY doc_id""",

    "t07_quality_filter" -> """
      SELECT doc_id,
        CAST(CASE WHEN n_toks >= 10 THEN 1 ELSE 0 END AS INTEGER) AS len_ok,
        CAST(CASE WHEN punct_ratio <= 0.1 THEN 1 ELSE 0 END AS INTEGER) AS punct_ok,
        CAST(CASE WHEN ttr >= 0.3 THEN 1 ELSE 0 END AS INTEGER) AS diversity_ok,
        CAST(CASE WHEN n_toks >= 10 AND punct_ratio <= 0.1 AND ttr >= 0.3
             THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM (
        SELECT doc_id,
          greatest(len(toks), 1) AS n_toks,
          CAST(length(text) - length(translate(text, '.,!?;:', '')) AS DOUBLE)
            / greatest(length(text), 1) AS punct_ratio,
          CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1) AS ttr
        FROM (SELECT doc_id, text,
                list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents) a) b
      ORDER BY doc_id""",

    "t01_token_stats" -> """
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
        round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
          / greatest(len(toks), 1), 6) AS avg_token_len
      FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents) t
      ORDER BY doc_id""",

    "t02_quality_score" -> """
      SELECT doc_id, n_chars,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        round(CAST(length(text) - length(translate(text, '.,!?;:', '')) AS DOUBLE)
          / greatest(length(text), 1), 6) AS punct_ratio,
        round(CAST(len(list_filter(toks, x -> x IN ('the', 'a', 'of', 'and', 'to', 'in', 'is', 'it'))) AS DOUBLE)
          / greatest(len(toks), 1), 6) AS stopword_ratio,
        round(CAST(len(list_distinct(toks)) AS DOUBLE) / greatest(len(toks), 1), 6) AS ttr
      FROM (SELECT doc_id, n_chars, text,
              list_filter(string_split(text, ' '), x -> x <> '') AS toks
            FROM documents) t
      ORDER BY doc_id""",

    "t03_langid" -> """
      SELECT doc_id, labeled_lang,
        CASE
          WHEN de_score > en_score AND de_score >= es_score AND de_score >= fr_score THEN 'de'
          WHEN es_score > en_score AND es_score > de_score AND es_score >= fr_score THEN 'es'
          WHEN fr_score > en_score AND fr_score > de_score AND fr_score > es_score THEN 'fr'
          ELSE 'en' END AS detected_lang,
        CAST(en_score AS BIGINT) AS en_score
      FROM (
        SELECT doc_id, lang AS labeled_lang,
          len(list_filter(toks, x -> x IN ('the', 'a', 'and', 'of', 'is'))) AS en_score,
          len(list_filter(toks, x -> x IN ('der', 'die', 'das', 'und', 'ist'))) AS de_score,
          len(list_filter(toks, x -> x IN ('el', 'la', 'los', 'y', 'es'))) AS es_score,
          len(list_filter(toks, x -> x IN ('le', 'la', 'les', 'et', 'est'))) AS fr_score
        FROM (SELECT doc_id, lang, list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents) a) b
      ORDER BY doc_id""",

    "t04_fingerprint" -> """
      SELECT doc_id,
        list_reduce(
          list_prepend(CAST(0 AS BIGINT),
            list_transform(generate_series(1, length(text)),
              i -> CAST(ascii(substring(text, i, 1)) AS BIGINT))),
          (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint,
        md5(text) AS text_md5
      FROM documents ORDER BY doc_id""",

    "t05_top_words" -> """
      SELECT word, count(*) AS n FROM (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
        FROM documents) t
      GROUP BY word ORDER BY n DESC, word LIMIT 30""",

    "t08_pii_scrub" -> """
      SELECT doc_id,
        CAST(len(regexp_extract_all(dirty, '[a-z0-9]+@[a-z0-9]+\.[a-z]+')) AS BIGINT) AS n_emails,
        CAST(len(regexp_extract_all(dirty, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        md5(regexp_replace(regexp_replace(dirty, '[a-z0-9]+@[a-z0-9]+\.[a-z]+', '[EMAIL]', 'g'),
            '[0-9]{3}-[0-9]{4}', '[PHONE]', 'g')) AS scrub_md5
      FROM (SELECT doc_id,
              text || ' contact user' || doc_id || '@mail' || (doc_id % 7) || '.com'
                   || ' tel 555-' || lpad(CAST(doc_id * 37 % 10000 AS VARCHAR), 4, '0') AS dirty
            FROM documents) t
      ORDER BY doc_id""",

    "t10_tfidf" -> """
      WITH terms AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
        FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY doc_id, term),
      dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      n AS (SELECT count(*) AS n_docs FROM documents),
      ranked AS (
        SELECT t.doc_id, t.term, t.tf, d.df,
          row_number() OVER (PARTITION BY t.doc_id ORDER BY t.tf DESC, d.df ASC, t.term) AS rn,
          round(t.tf * ln(CAST(n.n_docs + 1 AS DOUBLE) / (d.df + 1)), 6) AS tfidf
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        WHERE t.doc_id <= 50)
      SELECT doc_id, term, tf, df, CAST(rn AS BIGINT) AS rn, tfidf
      FROM ranked WHERE rn <= 5 ORDER BY doc_id, rn""",

    // independent derivation: regexp over the same constructed URL text
    "t13_url_stats" -> """
      WITH urls AS (
        SELECT 'https://' || source || '.example.com/sec' ||
               CAST(doc_id % 7 AS VARCHAR) || '/doc' || CAST(doc_id AS VARCHAR) ||
               CASE WHEN doc_id % 3 = 0 THEN '?ref=feed' ELSE '' END AS url
        FROM documents),
      parts AS (
        SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS host,
               regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
               CASE WHEN url LIKE '%?%'
                 THEN regexp_extract(url, '\?(.*)$', 1) ELSE NULL END AS query
        FROM urls)
      SELECT host, count(*) AS n_docs,
             count(DISTINCT regexp_extract(path, '^/(sec[0-9]+)/', 1)) AS n_sections,
             CAST(sum(CASE WHEN query = 'ref=feed' THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(max(length(path)) AS BIGINT) AS max_path_len
      FROM parts
      GROUP BY host
      ORDER BY host""",

    "t12_stemming" -> """
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        CAST(len(list_filter(generate_series(1, len(toks)),
          i -> toks[CAST(i AS INT)] <> stemmed[CAST(i AS INT)])) AS BIGINT) AS n_stemmed,
        md5(array_to_string(stemmed, ' ')) AS stem_md5
      FROM (
        SELECT doc_id, toks,
          list_transform(toks, w ->
            CASE WHEN w LIKE '%sses' THEN substring(w, 1, length(w) - 2)
                 WHEN w LIKE '%ies' AND length(w) > 4
                   THEN concat(substring(w, 1, length(w) - 3), 'y')
                 WHEN w LIKE '%ss' THEN w
                 WHEN w LIKE '%s' AND length(w) > 3 THEN substring(w, 1, length(w) - 1)
                 WHEN w LIKE '%ing' AND length(w) > 5 THEN substring(w, 1, length(w) - 3)
                 WHEN w LIKE '%ed' AND length(w) > 4 THEN substring(w, 1, length(w) - 2)
                 ELSE w END) AS stemmed
        FROM (SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents) a) b
      ORDER BY doc_id""",

    "t14_gopher_rules" -> """
      WITH lvl1 AS (
        SELECT doc_id, tok, count(*) AS cnt
        FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
              FROM documents) t
        GROUP BY doc_id, tok),
      lvl2 AS (
        SELECT doc_id,
          CAST(sum(cnt) AS BIGINT) AS n_words,
          CAST(sum(cnt * length(tok)) AS BIGINT) AS sum_len,
          CAST(max(cnt) AS BIGINT) AS max_cnt,
          CAST(count(CASE WHEN tok IN ('the','a','and','of','to') THEN 1 END) AS BIGINT) AS stop_hits
        FROM lvl1 GROUP BY doc_id)
      SELECT doc_id, n_words,
        round(CAST(sum_len AS DOUBLE) / n_words, 6) AS mean_word_len,
        stop_hits,
        round(CAST(max_cnt AS DOUBLE) / n_words, 6) AS top_share,
        CAST(n_words BETWEEN 20 AND 1000 AS INT) AS r_wordcount,
        CAST(CAST(sum_len AS DOUBLE) / n_words BETWEEN 3 AND 10 AS INT) AS r_meanlen,
        CAST(stop_hits >= 2 AS INT) AS r_stopword,
        CAST(CAST(max_cnt AS DOUBLE) / n_words <= 0.2 AS INT) AS r_repetition,
        CAST(n_words BETWEEN 20 AND 1000
             AND CAST(sum_len AS DOUBLE) / n_words BETWEEN 3 AND 10
             AND stop_hits >= 2
             AND CAST(max_cnt AS DOUBLE) / n_words <= 0.2 AS INT) AS keep
      FROM lvl2 ORDER BY doc_id""",

    "t11_repetition" -> """
      SELECT doc_id,
        CAST(len(toks) AS BIGINT) AS n_tokens,
        round(CAST(max_cnt AS DOUBLE) / n_toks, 6) AS top_token_share,
        round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n_toks, 6) AS dup_token_ratio,
        CAST(CASE WHEN CAST(max_cnt AS DOUBLE) / n_toks <= 0.2
                   AND 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / n_toks <= 0.5
             THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM (
        SELECT doc_id, toks, greatest(len(toks), 1) AS n_toks,
          list_max(list_transform(list_distinct(toks),
            d -> len(list_filter(toks, x -> x = d)))) AS max_cnt
        FROM (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
              FROM documents) a) b
      ORDER BY doc_id""",

    "t09_token_histogram" -> """
      SELECT bucket,
        count(*) AS n_docs,
        CAST(min(n_tokens) AS BIGINT) AS min_tokens,
        CAST(max(n_tokens) AS BIGINT) AS max_tokens,
        round(avg(n_chars), 6) AS avg_chars
      FROM (
        SELECT doc_id, n_chars, n_tokens,
          CASE WHEN n_tokens < 0 THEN 0
               WHEN n_tokens >= 120 THEN 13
               ELSE CAST(floor(n_tokens / 10.0) AS BIGINT) + 1 END AS bucket
        FROM (SELECT doc_id, n_chars,
                len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
              FROM documents) a) b
      GROUP BY bucket ORDER BY bucket""",

    "t20_url_blocklist" -> """
      WITH hosts AS (
        SELECT source, source || '.example.com' AS host FROM documents),
      flagged AS (
        SELECT source,
          (host IN ('src3.example.com', 'src7.example.com', 'example.org')
           OR host LIKE '%.src3.example.com' OR host LIKE '%.src7.example.com'
           OR host LIKE '%.example.org') AS blocked
        FROM hosts)
      SELECT source, count(*) AS n_docs,
        CAST(sum(CASE WHEN blocked THEN 1 ELSE 0 END) AS BIGINT) AS n_blocked,
        CAST(sum(CASE WHEN blocked THEN 0 ELSE 1 END) AS BIGINT) AS n_admitted
      FROM flagged GROUP BY source ORDER BY source""",

    "t19_dup_ngram_coverage" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      ths AS (
        SELECT doc_id, len(toks) AS n_tokens,
          list_transform(toks,
            t -> list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(generate_series(1, length(t)), i -> CAST(ascii(substring(t, i, 1)) AS BIGINT))),
                   (acc, c) -> (acc * 31 + c) % 1000000007)) AS hs
        FROM toked),
      grams AS (
        SELECT doc_id, n_tokens, i AS start,
          list_reduce(hs[i:i+4], (acc, c) -> (acc * 1000003 + c) % 1000000007) AS gram
        FROM ths, LATERAL (SELECT unnest(generate_series(1,
          greatest(n_tokens - 4, 0))) AS i) g),
      dup AS (
        SELECT doc_id, n_tokens, start,
          count(*) OVER (PARTITION BY doc_id, gram) AS n_occ
        FROM grams),
      swept AS (
        SELECT doc_id, n_tokens, start,
          lead(start) OVER (PARTITION BY doc_id ORDER BY start) AS nxt
        FROM dup WHERE n_occ >= 2),
      cov AS (
        SELECT doc_id, count(*) AS n_dup_occ,
          CAST(sum(least(5, coalesce(nxt - start, 5))) AS BIGINT) AS covered_toks
        FROM swept GROUP BY doc_id)
      SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        coalesce(c.n_dup_occ, 0) AS n_dup_occ,
        coalesce(c.covered_toks, 0) AS covered_toks,
        round(CAST(coalesce(c.covered_toks, 0) AS DOUBLE)
              / greatest(len(t.toks), 1), 6) AS dup_frac,
        CAST(CASE WHEN CAST(coalesce(c.covered_toks, 0) AS DOUBLE)
                       / greatest(len(t.toks), 1) <= 0.15
             THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM toked t LEFT JOIN cov c ON t.doc_id = c.doc_id
      ORDER BY t.doc_id""",

    "t21_word_entropy" -> """
      WITH t AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents),
      c AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n,
          list_transform(list_distinct(toks),
            w -> len(list_filter(toks, x -> x = w))) AS cs
        FROM t WHERE len(toks) > 0),
      e AS (
        SELECT doc_id, n, CAST(len(cs) AS BIGINT) AS n_distinct,
          round(ln(n) - CAST(list_sum(list_transform(cs,
              cnt -> cnt * CAST(round(ln(cnt) * 1000000.0) AS BIGINT))) AS DOUBLE)
            / (n * 1000000.0), 6) AS entropy
        FROM c)
      SELECT doc_id, n AS n_tokens, n_distinct, entropy,
        round(CAST(n_distinct AS DOUBLE) / n, 6) AS ttr,
        CAST(CASE WHEN entropy >= 2.0 THEN 1 ELSE 0 END AS INTEGER) AS keep
      FROM e ORDER BY doc_id""",

    "t22_filter_funnel" -> """
      WITH lvl1 AS (
        SELECT doc_id, lang, tok, count(*) AS cnt
        FROM (SELECT doc_id, lang,
                unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
              FROM documents) t
        GROUP BY doc_id, lang, tok),
      lvl2 AS (
        SELECT doc_id, lang,
          CAST(sum(cnt) AS BIGINT) AS n,
          max(cnt) AS max_cnt,
          count(CASE WHEN tok IN ('the', 'a', 'and', 'of', 'to') THEN 1 END)
            AS stop_hits,
          CAST(sum(cnt * CAST(round(ln(cnt) * 1000000.0) AS BIGINT)) AS BIGINT)
            AS slc
        FROM lvl1 GROUP BY doc_id, lang),
      flags AS (
        SELECT
          CASE WHEN n BETWEEN 20 AND 1000 THEN 1 ELSE 0 END AS f1,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f2,
          CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS f3,
          CASE WHEN CAST(max_cnt AS DOUBLE) / n <= 0.2 THEN 1 ELSE 0 END AS f4,
          CASE WHEN n * CAST(round(ln(n) * 1000000.0) AS BIGINT) - slc >= 2000000 * n
               THEN 1 ELSE 0 END AS f5
        FROM lvl2),
      agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n0,
          CAST(sum(f1) AS BIGINT) AS s1,
          CAST(sum(f1 * f2) AS BIGINT) AS s2,
          CAST(sum(f1 * f2 * f3) AS BIGINT) AS s3,
          CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS s4,
          CAST(sum(f1 * f2 * f3 * f4 * f5) AS BIGINT) AS s5
        FROM flags),
      funnel AS (
        SELECT CAST(1 AS BIGINT) AS stage, 'wordcount' AS gate, n0 AS entering, s1 AS surviving FROM agg
        UNION ALL SELECT 2, 'langid_en', s1, s2 FROM agg
        UNION ALL SELECT 3, 'stopwords', s2, s3 FROM agg
        UNION ALL SELECT 4, 'repetition', s3, s4 FROM agg
        UNION ALL SELECT 5, 'entropy', s4, s5 FROM agg)
      SELECT stage, gate, entering, surviving,
        entering - surviving AS dropped,
        round(CAST(entering - surviving AS DOUBLE) / greatest(entering, 1), 6)
          AS drop_rate
      FROM funnel ORDER BY stage""",

    "t23_kl_novelty" -> """
      WITH census AS (
        SELECT doc_id, tok, count(*) AS cnt
        FROM (SELECT doc_id,
                unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
              FROM documents) t
        GROUP BY doc_id, tok),
      corpus AS (
        SELECT tok, CAST(sum(cnt) AS BIGINT) AS cw FROM census GROUP BY tok),
      tot AS (SELECT CAST(sum(cw) AS BIGINT) AS ncorp FROM corpus),
      perdoc AS (
        SELECT c.doc_id,
          CAST(sum(c.cnt) AS BIGINT) AS n,
          CAST(sum(c.cnt * (CAST(round(ln(c.cnt) * 1000000.0) AS BIGINT)
                          - CAST(round(ln(w.cw) * 1000000.0) AS BIGINT)))
            AS BIGINT) AS ssum
        FROM census c JOIN corpus w ON c.tok = w.tok
        GROUP BY c.doc_id)
      SELECT doc_id, n AS n_tokens,
        round(CAST(ssum AS DOUBLE) / (n * 1000000.0) + ln(ncorp) - ln(n), 6) AS kl,
        CAST(CASE WHEN ssum + n * (CAST(round(ln(ncorp) * 1000000.0) AS BIGINT)
                                 - CAST(round(ln(n) * 1000000.0) AS BIGINT))
                       >= 350000 * n
             THEN 1 ELSE 0 END AS INTEGER) AS novel
      FROM perdoc, tot ORDER BY doc_id"""
  )
}
