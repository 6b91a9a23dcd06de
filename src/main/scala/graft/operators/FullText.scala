package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Full-text search slice (the r2-verdict's missing item 4): tsvector /
  * tsquery semantics over `documents`, reference
  * `src/backend/utils/adt/tsvector_op.c` (match) and `tsrank.c`
  * (calc_rank_and weighting).
  *
  *  - f01: AND-match (`'merge' & 'vector'` tsquery analog) + a
  *    ts_rank-style score — per-term saturating term frequency
  *    tf/(1+tf), summed over query terms, normalized by 1+ln(doclen)
  *    (tsrank.c's word-count normalization option 1). Top 30.
  *  - f02: phrase match (`'hash' <-> 'join'` followed-by tsquery) via
  *    adjacent-position counting — the positional part of tsvector.
  *  - f04: boolean tsquery — the OR (`|`) and NOT (`!`) branches of
  *    TS_execute's operator tree (tsvector_op.c:1868 TS_execute_recurse).
  *  - f05: ts_headline — the snippet generator (wparser_def.c
  *    prsd_headline): window around the first hit, hits bolded.
  *
  * Everything is per-row codegen'd higher-order-function arithmetic over
  * the token array (no UDF, no shuffle except the final top-k): PG stores
  * a tsvector per row and evaluates @@ and ts_rank rowwise the same way.
  * The posting-list (GIN-index) rendition of the same representation is
  * d02's inverted shingle index. The identical formula runs in the DuckDB
  * oracle, so ranks hash-match end to end.
  */
object FullText {

  private val toks = "filter(split(lower(text), ' '), x -> x <> '')"

  /** Bind the token array ONCE inside a pushed-down filter predicate.
    * `exists(array(toks), t -> P(t))` ⟺ `P(toks)` — the array holds one
    * element, so `exists` evaluates P exactly once on it, and exists's
    * null-result (when P is null) is filter-false exactly like P's own
    * null — but predicate pushdown's alias substitution now inlines the
    * tokenize exactly once (as the HOF's input) instead of once per
    * `toks` reference inside P (the f09 substitution class, PROF_r16;
    * f12's websearch filter carried EIGHT tokenizes per corpus row).
    * Write P over the lambda variable `t`. */
  private def toksBound(predOverT: String): String =
    s"exists(array(toks), t -> ($predOverT))"

  /** Language-config registry — the snowball config surface as DATA
    * (reference: `src/backend/snowball/libstemmer/` ships one stemmer
    * per language and `snowball/stopwords/<lang>.stop` the stoplists;
    * `CREATE TEXT SEARCH CONFIGURATION ... ( PARSER = ... )` binds them
    * by NAME). A config here is a value: stopword list + registered
    * stemmer function; f11 (english) and f17 (french) run the same
    * pipeline differing ONLY in the config they resolve, and
    * FullTextSpec parameterizes the dictionary test over both. */
  object FtsConfig {
    /** Integer-token dictionary options (`contrib/dict_int/dict_int.c`
      * dintdict_init defaults): tokens of the INTEGER class longer than
      * `maxlen` digits are truncated (or dropped when `rejectlong`);
      * `absval` strips a leading sign first. */
    final case class IntDict(maxlen: Int = 6, rejectlong: Boolean = false,
        absval: Boolean = false) {
      require(maxlen >= 1, "maxlen value has to be >= 1") // dict_int.c:44
    }

    final case class TsConfig(language: String, stopwords: Seq[String], stemFn: String,
        stem: String => String,
        synonyms: Seq[(String, Seq[String])] = Nil,
        intDict: Option[IntDict] = None) {
      def stopArr: String = stopwords.map("'" + _ + "'").mkString("array(", ",", ")")
      def duckStopArr: String = stopwords.map("'" + _ + "'").mkString("[", ",", "]")

      /** Derive a configuration with a synonym dictionary CHAINED before
        * the stemmer — PG's `CREATE TEXT SEARCH CONFIGURATION … (COPY =
        * lang)` + `ALTER … ALTER MAPPING … WITH xsyn_dict, lang_stem`
        * move (`contrib/dict_xsyn/dict_xsyn.c`). Each rule is (key →
        * output lexemes); with dict_xsyn's defaults (matchorig=true,
        * keeporig=true, matchsynonyms=false, keepsynonyms=true) the
        * output list is the original word followed by its synonyms, so
        * callers pass exactly that. The language registry itself is
        * untouched — a derived config is a mapping change, not a new
        * language (t26's language fold sees nothing). */
      def withSynonyms(rules: Seq[(String, Seq[String])]): TsConfig =
        copy(synonyms = rules)

      /** Chain an integer dictionary (dict_int) for INTEGER-class
        * tokens — PG's per-token-class mapping: the int dictionary owns
        * numeric tokens, the word chain (synonyms → stemmer) never sees
        * them. */
      def withIntDict(d: IntDict): TsConfig = copy(intDict = Some(d))

      /** The config's full lexize pipeline over a token-array expression:
        * stopword drop, then PG's dictionary-chain contract per token —
        * the FIRST dictionary that accepts a token consumes it (a synonym
        * match emits its lexeme list UNSTEMMED, exactly dxsyn_lexize's
        * output), anything unmatched falls through to the stemmer. One
        * generated expression, fully codegen; configs without synonyms
        * produce the same text f11/f17/f18 always ran. */
      /** The per-token dictionary-chain CASE branches over a token
        * expression `w` — shared text between the array pipeline
        * ([[lexExpr]], `w` = the lambda variable) and the row-wise
        * pipeline ([[tokenLexExpr]], `w` = a column, fully codegen). */
      private def tokenCases(w: String): Seq[String] = {
        val intCase = intDict.toSeq.map { d =>
          // sign strip without a regex pass (absval, dict_int.c:107)
          val t =
            if (d.absval) s"IF(substring($w, 1, 1) IN ('+', '-'), substring($w, 2), $w)"
            else w
          val out =
            if (d.rejectlong) // long tokens DROP instead of trimming
              s"IF(length($t) > ${d.maxlen}, CAST(array() AS ARRAY<STRING>), array($t))"
            else // substring is the identity on short tokens — no branch
              s"array(substring($t, 1, ${d.maxlen}))"
          s"WHEN $w rlike '^[+-]?[0-9]+$$' THEN $out"
        }
        val synCases = synonyms.map { case (k, out) =>
          s"WHEN $w = '$k' THEN array(${out.map("'" + _ + "'").mkString(",")})"
        }
        intCase ++ synCases
      }

      def lexExpr(toksExpr: String): String = {
        val base = s"filter($toksExpr, t -> NOT array_contains($stopArr, t))"
        val cases = tokenCases("w")
        if (cases.isEmpty) s"transform($base, w -> $stemFn(w))"
        else s"flatten(transform($base, w -> CASE ${cases.mkString(" ")} ELSE array($stemFn(w)) END))"
      }

      /** The same chain for ONE token held in a column — the census
        * shape: explode tokens first, then run the chain as a plain
        * row expression so every stage (the class regex, the dict
        * CASE, the stemmer) stays inside WholeStageCodegen instead of
        * an interpreted HOF lambda (Spark HOFs are CodegenFallback —
        * the f20 census measured 4.6 s lambda-side vs sub-second
        * row-wise at sf0.1, identical lexemes by construction: the
        * CASE text is generated once and spliced into both forms). */
      def tokenLexExpr(tokCol: String): String = {
        val cases = tokenCases(tokCol)
        if (cases.isEmpty) s"array($stemFn($tokCol))"
        else s"CASE ${cases.mkString(" ")} ELSE array($stemFn($tokCol)) END"
      }

      /** Query-side lexize of one term through the same chain (int
        * dictionary for INTEGER-class terms; synonym dict first for
        * words — matchsynonyms=false means only rule KEYS match — then
        * the stemmer). A synonym key expands to its lexeme list (an
        * OR-query in PG); a plain term stems to one lexeme. */
      def queryLex(term: String): Seq[String] = intDict match {
        case Some(d) if term.matches("[+-]?[0-9]+") =>
          val t = if (d.absval) term.replaceFirst("^[+-]", "") else term
          if (t.length > d.maxlen) {
            if (d.rejectlong) Seq.empty else Seq(t.substring(0, d.maxlen))
          } else Seq(t)
        case _ =>
          synonyms.collectFirst { case (k, out) if k == term => out }
            .getOrElse(Seq(stem(term)))
      }
    }
    /** Fixed subset of snowball's french.stop, shared with the oracle. */
    val FrenchStop: Seq[String] = Seq(
      "au", "aux", "avec", "ce", "ces", "dans", "de", "des", "du", "elle",
      "elles", "en", "et", "eux", "il", "ils", "je", "la", "le", "les",
      "leur", "leurs", "lui", "ma", "mais", "me", "mes", "moi", "mon", "ne",
      "nos", "notre", "nous", "on", "ou", "par", "pas", "pour", "que", "qui",
      "sa", "se", "ses", "son", "sur", "ta", "te", "tes", "toi", "ton", "tu",
      "un", "une", "vos", "votre", "vous")
    /** Fixed subset of snowball's russian.stop, shared with the oracle.
      * (ё-forms omitted: the corpus and stop-matching stay ё-free; the
      * stemmer still normalizes ё→е for suffix logic.) */
    val RussianStop: Seq[String] = Seq(
      "и", "в", "во", "не", "что", "он", "на", "я", "с", "со", "как",
      "а", "то", "все", "она", "так", "его", "но", "да", "ты", "к",
      "у", "же", "вы", "за", "бы", "по", "только", "мне", "было",
      "вот", "от", "меня", "еще", "нет", "о", "из", "ему", "теперь",
      "когда", "даже", "ну", "ли", "если", "уже", "или", "ни", "быть",
      "был", "до", "вас", "для", "мы", "они", "есть", "чем", "была",
      "без", "тоже", "себе", "под")
    val configs: Map[String, TsConfig] = Map(
      "english" -> TsConfig("english", StopWords, "porter_stem",
        graft.functions.PorterStem.stem),
      "french" -> TsConfig("french", FrenchStop, "french_stem",
        graft.functions.FrenchStem.stem),
      "russian" -> TsConfig("russian", RussianStop, "russian_stem",
        graft.functions.RussianStem.stem))
    def apply(lang: String): TsConfig = configs.getOrElse(lang,
      throw new IllegalArgumentException(s"no FTS config for language '$lang'"))
  }

  /** The f17 French mini-corpus: 12 docs with planted inflection
    * families (manger / nation / continuer / travailler / maison /
    * rapide / habiter) so the french config's stemmer has real work. */
  val FrenchCorpus: Seq[(Long, String)] = Seq(
    1L -> "les enfants mangent des pommes rouges dans le jardin",
    2L -> "elle mangeait une pomme rouge chaque matin",
    3L -> "nous mangerons ensemble au restaurant national",
    4L -> "la nation célèbre sa fête nationale avec majesté",
    5L -> "les nations unies discutent des politiques nationales",
    6L -> "il continue de travailler sur la continuation du projet",
    7L -> "elles continuaient leurs travaux avec grande motivation",
    8L -> "le travail continuera malgré les difficultés majeures",
    9L -> "une grande maison blanche domine les collines vertes",
    10L -> "ces maisons blanches furent construites rapidement",
    11L -> "la rapidité de la construction surprend les habitants",
    12L -> "ils habitaient une petite maison près du jardin fleuri")

  /** The f18 Russian mini-corpus: 12 docs with planted inflection
    * families (работать / книга / говорить / учиться / красивый /
    * город) so the russian config's stemmer has real work. Pure
    * Cyrillic, lowercase, space-tokenized, apostrophe- and ё-free so
    * the same literals ride inside the oracle SQL. */
  val RussianCorpus: Seq[(Long, String)] = Seq(
    1L -> "он любит работать в большом городе на севере",
    2L -> "она работает в новой библиотеке каждый день",
    3L -> "мы работали вместе над важным проектом",
    4L -> "студент работал вечером и читал книги",
    5L -> "эта книга лежит на столе у окна",
    6L -> "в библиотеке есть редкие книги и журналы",
    7L -> "учитель говорит медленно и очень ясно",
    8L -> "дети любят говорить о красивых городах",
    9L -> "они говорили про новости все утро",
    10L -> "студенты учатся в школе и учились дома",
    11L -> "красивая площадь украшает старый город",
    12L -> "туристы видят красивые здания и широкие улицы")

  /** f14's inflection probe set — chosen to exercise Porter steps 1a/1b
    * (s, ing, ed), agentive er, and the multi-step 2→4 chains (ation,
    * ational, iveness). */
  private val StemSuffixes = Seq("", "s", "ing", "ed", "er", "ation", "ational", "iveness")

  /** f19's synonym rules — dict_xsyn rules-file lines as data ("key
    * syn1 syn2…"; with keeporig=true the output leads with the key).
    * ONE source of truth: the Spark config derives from this Seq and
    * the oracle's CASE is generated from it. */
  private[graft] val F19Rules: Seq[(String, Seq[String])] = Seq(
    "fast" -> Seq("fast", "quick", "rapid"),
    "big" -> Seq("big", "large", "huge"),
    "sort" -> Seq("sort", "order"))

  /** The config-driven stemmed-retrieval pipeline shared VERBATIM by
    * f17 (french), f18 (russian), and f19 (english + synonym chain):
    * every language- or dictionary-specific piece resolves from the
    * CONFIG VALUE (stoplist, stemmer, synonym rules), so registry
    * growth — new language, new script, new dictionary stage — never
    * touches this code. Scale shape unchanged from f11: one pass, all
    * lexize work codegen'd HOFs, rank a per-row formula. */
  private def configRank(s: SparkSession, cfg: FtsConfig.TsConfig,
      corpus: DataFrame, queryTerm: String): DataFrame = {
    val qlex = cfg.queryLex(queryTerm) // chain-resolved at PLAN time
    val tfExpr = qlex.map(q => s"size(filter(lex, x -> x = '$q'))").mkString(" + ")
    corpus
      .withColumn("lex", expr(cfg.lexExpr(toks)))
      .withColumn("n_lex", size(col("lex")).cast("bigint"))
      .withColumn("tf_q", expr(tfExpr).cast("bigint"))
      .filter(col("tf_q") > 0)
      .withColumn("rank", round(expr(
        "(CAST(tf_q AS DOUBLE) / (1.0 + tf_q)) / (1.0 + ln(n_lex))"), 6))
      .select(col("doc_id"), col("n_lex"), col("tf_q"), col("rank"))
      .orderBy(col("rank").desc, col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- f14: REAL Porter stemming for the `english` config
    //    (`src/backend/snowball/libstemmer/stem_UTF_8_english.c`; the
    //    1980 algorithm implemented as a codegen'd Catalyst expression,
    //    unit-tested against the paper's published examples — f11/t12's
    //    suffix ladder stays as the cheap approximate variant). The
    //    query is the SCALE shape for stemming: stem the token CENSUS
    //    (vocabulary-sized by Heaps' law), never the corpus stream —
    //    here each census word is additionally expanded through a fixed
    //    probe suffix set so every Porter step fires on data-derived
    //    tokens. `collapsed` audits the property FTS relies on:
    //    inflection then stemming lands on the base word's own stem.
    //    The oracle joins an embedded (inflected → stem) dictionary
    //    generated BY the unit-tested implementation — an INNER join,
    //    so any vocabulary drift fails the row count loudly rather than
    //    silently passing --
    "f14_porter_stems" -> { (s, dir) =>
      val sufArr = StemSuffixes.map("'" + _ + "'").mkString("array(", ",", ")")
      Tables.df(s, dir, "documents")
        .select(explode(expr(toks)).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("n_base"))
        .select(col("w"), col("n_base"), explode(expr(sufArr)).as("suf"))
        .select(concat(col("w"), col("suf")).as("inflected"),
          col("n_base"),
          expr("porter_stem(concat(w, suf))").as("stem"),
          expr("CAST(porter_stem(concat(w, suf)) = porter_stem(w) AS INT)").as("collapsed"))
        .orderBy(col("inflected"))
    },

    // -- f15: STEMMED retrieval — the end-to-end payoff of f14's Porter
    //    implementation (what the reference's `english` config does for
    //    every tsquery): the INFLECTED query "merging vectors" matches
    //    documents containing the base words, because BOTH sides pass
    //    through the stemmer ('merging' → 'merg' ← 'merge'; 'vectors' →
    //    'vector' ← 'vector'). Corpus side stems per-row inside the f01
    //    tsvector pattern (codegen'd transform; the census-dictionary
    //    broadcast shape for 100 TB is demonstrated by f14); rank is
    //    f01's saturating-tf formula over stemmed term frequencies. The
    //    oracle maps corpus tokens through the embedded base-word stem
    //    dictionary (generated by the unit-tested implementation) and
    //    re-derives the same ranks --
    "f15_stemmed_rank" -> { (s, dir) =>
      // query-side stemming happens at PLAN time with the same function
      val qstems = Seq("merging", "vectors")
        .map(graft.functions.PorterStem.stem) // -> merg, vector
      Tables.df(s, dir, "documents")
        .withColumn("stoks", expr(s"transform($toks, w -> porter_stem(w))"))
        .withColumn("tf_q0", expr(s"size(filter(stoks, x -> x = '${qstems(0)}'))"))
        .withColumn("tf_q1", expr(s"size(filter(stoks, x -> x = '${qstems(1)}'))"))
        // r17: the tf>0 pair bound via the single-binding pattern — the
        // old `tf_q0 > 0 && tf_q1 > 0` spelling inlined the full
        // tokenize+porter_stem chain TWICE per corpus row in the pushed
        // filter (the f09 substitution class, PROF_r16); tf > 0 ⟺ the
        // stem array contains the query stem, and binding stoks once as
        // the exists input leaves exactly one chain per row
        .filter(expr(
          s"exists(array(stoks), st -> array_contains(st, '${qstems(0)}')" +
          s" AND array_contains(st, '${qstems(1)}'))"))
        .withColumn("rank", round(expr(
          "(CAST(tf_q0 AS DOUBLE) / (1.0 + tf_q0) + CAST(tf_q1 AS DOUBLE) / (1.0 + tf_q1)) / (1.0 + ln(size(stoks)))"), 6))
        .select(col("doc_id"), col("tf_q0").cast("bigint").as("tf_merg"),
          col("tf_q1").cast("bigint").as("tf_vector"), col("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(30)
    },
    // -- f17: SECOND-LANGUAGE FTS config — the same stemmed-retrieval
    //    pipeline as f11/f15 with every language-specific piece resolved
    //    from the `french` CONFIG VALUE (stopwords + stemmer function;
    //    snowball ships them as per-language data files, and so does
    //    FtsConfig). The French mini-corpus plants inflection families;
    //    the INFLECTED query 'continuer' stems to 'continu' and matches
    //    continue/continuation/continuaient/continuera across docs —
    //    both sides through the french_stem expression (codegen'd; the
    //    published Snowball French algorithm). The oracle joins an
    //    embedded (word → stem) dictionary generated BY the unit-tested
    //    implementation over the full non-stopword vocabulary — INNER
    //    joins make any vocabulary drift a loud row-count failure --
    "f17_french_config" -> { (s, dir) =>
      import s.implicits._
      configRank(s, FtsConfig("french"), FrenchCorpus.toDF("doc_id", "text"),
        "continuer") // config-resolved at PLAN time → 'continu'
    },

    // -- f18: the SAME config-driven pipeline as f17, resolving the
    //    russian CONFIG — the registry's first non-Latin script
    //    (`src/backend/snowball/libstemmer/stem_UTF_8_russian.c` +
    //    `snowball/stopwords/russian.stop`). Every suffix decision runs
    //    over Cyrillic code points; the INFLECTED query 'работать'
    //    stems to 'работа' and matches работает/работали/работал
    //    across docs. Zero pipeline changes vs f17 — the registry-is-
    //    data proof now spans scripts, not just languages --
    "f18_russian_config" -> { (s, dir) =>
      import s.implicits._
      configRank(s, FtsConfig("russian"), RussianCorpus.toDF("doc_id", "text"),
        "работать") // config-resolved at PLAN time → 'работа'
    },

    // -- f19: SYNONYM DICTIONARY stage in the config chain — dict_xsyn
    //    (`contrib/dict_xsyn/dict_xsyn.c`, defaults matchorig/keeporig/
    //    keepsynonyms true): a derived english configuration chains a
    //    synonym dictionary BEFORE the stemmer, so a matched token emits
    //    its lexeme list (original + synonyms, unstemmed — dxsyn_lexize's
    //    exact output) and everything else falls through to porter. The
    //    classifier/pipeline code is configRank — the SAME function f17
    //    and f18 run, untouched (the registry-is-data claim now covers
    //    dictionary CHAINS, not just stoplists + stemmers). The query
    //    term 'quick' matches documents containing 'fast' purely through
    //    the config's expansion; the oracle replays the same rules as
    //    data over the raw tokens --
    "f19_synonym_config" -> { (s, dir) =>
      configRank(s, FtsConfig("english").withSynonyms(F19Rules),
        Tables.df(s, dir, "documents").select(col("doc_id"), col("text")),
        "quick")
        .limit(30)
    },

    // -- f20: INTEGER dictionary in the config chain — dict_int
    //    (`contrib/dict_int/dict_int.c`): INTEGER-class tokens are
    //    normalized by their own dictionary (absval strips the sign,
    //    tokens past maxlen digits truncate — the "index only the
    //    prefix of long numbers" FTS hygiene), while word tokens flow
    //    through the usual synonym→stemmer chain untouched. The corpus
    //    is an invoice-line rendering of an `orders` slice (numbers of
    //    1–11 digits, one signed), so every dict_int branch fires on
    //    data; the slice keeps the corpus at the config family's
    //    documents scale (the growth law is the scaling sweep's job —
    //    f20 rides the row axis there over the FULL table). The census
    //    pins the behavior: no lexeme exceeds 6 digits, and the
    //    per-length counts/extrema match the oracle's replay of the
    //    same truncation arithmetic. Config-data-only, zero pipeline
    //    changes (the same generated chain text f17/f18/f19 run) --
    "f20_intdict_config" -> { (s, dir) =>
      val cfg = FtsConfig("english")
        .withIntDict(FtsConfig.IntDict(maxlen = 6, absval = true))
      Tables.df(s, dir, "orders")
        .filter(col("o_orderkey") % 10 === 0)
        .select(concat(
          lit("invoice "), (col("o_orderkey") * 31).cast("string"),
          lit(" net -"), expr("CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING)"),
          lit(" ref "), (col("o_orderkey") * 1000003L).cast("string")).as("text"))
        // census shape: explode tokens FIRST, then the chain as a row
        // expression — all codegen (see TsConfig.tokenLexExpr)
        .select(explode(expr(
          s"filter($toks, t -> NOT array_contains(${cfg.stopArr}, t))")).as("w"))
        .select(explode(expr(cfg.tokenLexExpr("w"))).as("lexeme"))
        .filter(col("lexeme").rlike("^[0-9]+$"))
        // census first (map-side combined), then the per-length rollup —
        // a direct countDistinct would Expand-duplicate the lexeme stream
        .groupBy(length(col("lexeme")).as("len"), col("lexeme"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("len"))
        .agg(sum(col("n")).cast("bigint").as("n_lexemes"),
          count(lit(1)).as("n_distinct"),
          min(col("lexeme")).as("min_lexeme"),
          max(col("lexeme")).as("max_lexeme"))
        .orderBy(col("len"))
    },

    // -- f16: DISTANCE phrase operator `'hash' <N> 'join'` —
    //    tsquery_phrase with an explicit gap (tsquery_op.c
    //    tsquery_phrase_distance; f02 covers the adjacent `<->` = <1>
    //    case): b must sit EXACTLY N positions after a. Pure positional
    //    arithmetic over the token array (the tsvector positions), one
    //    guarded sequence scan per row, codegen'd; the count is the
    //    number of phrase anchors, PG's phrase-match multiplicity --
    "f16_phrase_distance" -> { (s, dir) =>
      val n = 2 // 'hash' <2> 'join': one token between them
      // zip_with over two slices, NOT element_at(toks, i) inside a
      // sequence lambda: projection collapse inlines the split() into
      // the lambda body, re-tokenizing the document once PER POSITION —
      // O(L²) in document length (the r10 length-axis sweep measured it
      // at 55× under 64× length). The slice form evaluates the token
      // array a constant number of times per row and each lambda touches
      // only its own arguments.
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("n_hits", expr(
          s"""CASE WHEN size(toks) <= $n THEN 0L ELSE
                CAST(size(filter(
                  zip_with(slice(toks, 1, size(toks) - $n),
                           slice(toks, $n + 1, size(toks) - $n),
                           (a, b) -> a = 'hash' AND b = 'join'),
                  x -> x)) AS BIGINT) END"""))
        // r16: the n_hits > 0 filter bound via toksBound — one tokenize
        // in the pushed filter (was five); the AND short-circuits like
        // the original CASE so the slices never see a negative length
        .filter(expr(toksBound(
          s"""size(t) > $n AND exists(
               zip_with(slice(t, 1, size(t) - $n),
                        slice(t, $n + 1, size(t) - $n),
                        (a, b) -> a = 'hash' AND b = 'join'),
               x -> x)""")))
        .select(col("doc_id"), col("n_hits"),
          size(col("toks")).cast("bigint").as("doclen"))
        .orderBy(col("doc_id"))
    },

    // -- tsquery AND match + ts_rank ordering --
    "f01_fts_rank" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        // r16: tf_merge > 0 AND tf_vector > 0 ⟺ both terms present —
        // ONE array_intersect so pushdown inlines one tokenize (f09
        // class); the tf columns compute above, on survivors only
        .filter(expr("size(array_intersect(toks, array('merge', 'vector'))) = 2"))
        .withColumn("tf_merge", expr("size(filter(toks, x -> x = 'merge'))"))
        .withColumn("tf_vector", expr("size(filter(toks, x -> x = 'vector'))"))
        .withColumn("rank", round(expr(
          "(CAST(tf_merge AS DOUBLE) / (1.0 + tf_merge) + CAST(tf_vector AS DOUBLE) / (1.0 + tf_vector)) / (1.0 + ln(size(toks)))"), 6))
        .select(col("doc_id"), col("tf_merge"), col("tf_vector"), col("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(30)
    },

    // -- weighted ts_rank: tsvector weight classes (setweight A..D,
    //    tsrank.c `weights[]` — title terms count 1.0, body terms 0.1).
    //    The "title" is the document's first 8 tokens, the standard
    //    title-vs-body weighting a search pipeline applies at index time --
    "f03_fts_weighted" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        // r16: tfa + tfd is the total 'merge' count, so the filter is
        // exactly array_contains — one tokenize in the pushed filter
        .filter(expr("array_contains(toks, 'merge')"))
        .withColumn("title", expr("slice(toks, 1, 8)"))
        .withColumn("tfa", expr("size(filter(title, x -> x = 'merge'))"))
        .withColumn("tfd", expr("size(filter(toks, x -> x = 'merge')) - tfa"))
        .withColumn("rank", round(expr(
          """(1.0 * CAST(tfa AS DOUBLE) / (1.0 + tfa) + 0.1 * CAST(tfd AS DOUBLE) / (1.0 + tfd))
             / (1.0 + ln(size(toks)))"""), 6))
        .select(col("doc_id"), col("tfa").cast("bigint").as("tf_title"),
          col("tfd").cast("bigint").as("tf_body"), col("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(30)
    },

    // -- boolean tsquery: OR and NOT branches of TS_execute's operator
    //    tree (tsvector_op.c; f01 covers the AND leaf). The query is
    //    ('merge' | 'sort') & !'error'; rank sums the saturating tf of
    //    whichever OR arms matched — absent arms contribute 0, exactly
    //    how calc_rank walks only the present operands --
    "f04_fts_boolean" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        // r16: the boolean tsquery filter bound via toksBound — one
        // tokenize in the pushed filter (was three); tf columns above
        .filter(expr(toksBound(
          "size(array_intersect(t, array('merge', 'sort'))) >= 1 AND NOT array_contains(t, 'error')")))
        .withColumn("tf_merge", expr("size(filter(toks, x -> x = 'merge'))"))
        .withColumn("tf_sort", expr("size(filter(toks, x -> x = 'sort'))"))
        .withColumn("tf_error", expr("size(filter(toks, x -> x = 'error'))"))
        .withColumn("rank", round(expr(
          "(CAST(tf_merge AS DOUBLE) / (1.0 + tf_merge) + CAST(tf_sort AS DOUBLE) / (1.0 + tf_sort)) / (1.0 + ln(size(toks)))"), 6))
        .select(col("doc_id"), col("tf_merge"), col("tf_sort"), col("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(30)
    },

    // -- ts_headline: the snippet generator (wparser_def.c's hlparsetext /
    //    prsd_headline): locate the first query-term hit, take a window of
    //    MaxWords tokens around it, wrap every in-window hit in
    //    <b>…</b>. Per-row array arithmetic, fully codegen'd, no shuffle;
    //    the identical formula runs in the oracle so the strings
    //    hash-match --
    "f05_fts_headline" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("pos", expr("array_position(toks, 'merge')"))
        .filter(col("pos") > 0)
        .withColumn("st", expr("CAST(greatest(pos - 3, 1) AS INT)"))
        .withColumn("headline", expr(
          """array_join(
               transform(slice(toks, st, 9),
                 t -> IF(t = 'merge', concat('<b>', t, '</b>'), t)),
               ' ')"""))
        .select(col("doc_id"), col("pos").cast("bigint").as("first_pos"), col("headline"))
        .orderBy(col("doc_id"))
    },

    // -- phrase (followed-by) match: adjacent positions --
    // -- ts_stat (tsvector_op.c ts_stat_sql → tsvector_update_trigger
    //    aggregation path): vocabulary statistics over the whole corpus —
    //    per lexeme, ndoc (documents containing it) and nentry (total
    //    occurrences). Spark-first: one explode, then a single hash
    //    aggregate keyed on (doc, word) feeding a word-level rollup —
    //    both shuffles map-side combined; the DQA is what PG's ts_stat
    //    computes by scanning every tsvector --
    "f06_ts_stat" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .select(col("doc_id"), explode(expr(toks)).as("word"))
        .groupBy("doc_id", "word").agg(count(lit(1)).as("nentry_doc"))
        .groupBy("word")
        .agg(count(lit(1)).as("ndoc"), sum(col("nentry_doc")).as("nentry"))
        .orderBy(col("ndoc").desc, col("nentry").desc, col("word"))
        .limit(25)
    },

    // -- prefix tsquery ('merg:*' — tsquery.c's QI_VALSTOP prefix flag,
    //    matched via the GIN prefix scan in the reference): per-row
    //    prefix-filtered term frequency, saturating-tf rank like f01 --
    "f07_fts_prefix" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("tf_prefix", expr("size(filter(toks, x -> x LIKE 'merg%'))"))
        .filter(col("tf_prefix") > 0)
        .withColumn("rank", round(expr(
          "(CAST(tf_prefix AS DOUBLE) / (1.0 + tf_prefix)) / (1.0 + ln(size(toks)))"), 6))
        .select(col("doc_id"), col("tf_prefix"), col("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(30)
    },

    "f02_fts_phrase" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        // single-pass pairwise zip (toks[i], toks[i+1]) — no per-index
        // array lookups; zip_with pads the shorter slice with null, whose
        // comparison is null and is dropped by the boolean filter
        // r16: the n_phrase > 0 filter, bound via toksBound so pushdown
        // inlines ONE tokenize (was three — the f09 class); n_phrase
        // computes above, on survivors only
        .filter(expr(toksBound(
          """exists(zip_with(t, slice(t, 2, size(t)),
               (a, b) -> a = 'hash' AND b = 'join'), x -> x)""")))
        .withColumn("n_phrase", expr(
          """size(filter(zip_with(toks, slice(toks, 2, size(toks)),
               (a, b) -> a = 'hash' AND b = 'join'), x -> x))"""))
        .select(col("doc_id"), col("n_phrase"))
        .orderBy(col("n_phrase").desc, col("doc_id"))
    },

    // -- distance-N phrase tsquery ('merge <2> join' — tsquery.c
    //    OP_PHRASE carries an arbitrary distance operand; `<->` is just
    //    `<1>`. Same single-pass pairwise zip as f02 with the right
    //    slice offset: toks[i] pairs with toks[i+N], zip_with pads the
    //    tail with null whose comparison drops out of the filter --
    // -- ts_rank_cd: cover-density ranking (tsrank.c calc_rank_cd /
    //    Cover). For a 2-term AND tsquery the Cover() scan — forward to
    //    the earliest query completion, backward to the latest start,
    //    restart after the cover's begin — enumerates EXACTLY the
    //    adjacent distinct-term pairs of the merged position list, each
    //    a 2-entry extent: Cpos = 2/(1/w + 1/w) = 0.1 at default D
    //    weights (weights[] = {0.1,0.2,0.4,1.0}, tsrank.c:48) and
    //    nNoise = gap - 1, so each cover contributes 0.1/gap and
    //    rank_cd = Σ 0.1/gap (method 0, no normalization).
    //    Evaluated per row in one HOF pass over the token array — like
    //    the reference, rank_cd never leaves the row: no shuffle, no
    //    window, the only exchange is the final top-k sort --
    "f09_ts_rank_cd" -> { (s, dir) =>
      //    r16 (PROF_r16 dissection): the original `.filter(n_covers >
      //    0)` was SUBSTITUTED below the ents projection by predicate
      //    pushdown, re-evaluating the full tokenize+ents chain three
      //    times inside the Filter on every corpus row (the j08/i17
      //    re-evaluation class, PROF_r14 §1). The filter is replaced by
      //    its exact cheap equivalent: n_covers > 0 ⟺ the token array
      //    contains BOTH query terms (a sequence holding two distinct
      //    values must have an adjacent differing pair — and rank_cd's
      //    covers are exactly those pairs), spelled as ONE
      //    array_intersect so pushdown's substitution inlines exactly
      //    one tokenize per row (two array_contains would inline it
      //    twice — each alias reference substitutes separately); ents
      //    then builds once, above the filter.
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .filter(expr("size(array_intersect(toks, array('scan', 'join'))) = 2"))
        .withColumn("ents", expr(
          "filter(transform(toks, (x, i) -> struct(i AS pos, x AS tok)), e -> e.tok = 'scan' OR e.tok = 'join')"))
        .withColumn("n_covers", expr(
          """size(filter(zip_with(ents, slice(ents, 2, size(ents)),
               (a, b) -> a.tok <> b.tok), x -> x))"""))
        .withColumn("rank_cd", round(expr(
          """aggregate(zip_with(ents, slice(ents, 2, size(ents)),
               (a, b) -> CASE WHEN a.tok <> b.tok
                         THEN CAST(0.1 AS DOUBLE) / (b.pos - a.pos)
                         ELSE CAST(0 AS DOUBLE) END),
             CAST(0 AS DOUBLE), (acc, x) -> acc + x)"""), 6))
        .select(col("doc_id"), col("n_covers"), col("rank_cd"))
        .orderBy(col("rank_cd").desc, col("doc_id"))
    },

    "f08_fts_phrase_dist" -> { (s, dir) =>
      val dist = 2 // 'merge <2> join': exactly one token between them
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        // r16: filter bound via toksBound — one tokenize in the pushed
        // filter (f09 class); n_phrase computes above on survivors
        .filter(expr(toksBound(
          s"""exists(zip_with(t, slice(t, ${dist + 1}, size(t)),
               (a, b) -> a = 'merge' AND b = 'join'), x -> x)""")))
        .withColumn("n_phrase", expr(
          s"""size(filter(zip_with(toks, slice(toks, ${dist + 1}, size(toks)),
               (a, b) -> a = 'merge' AND b = 'join'), x -> x))"""))
        .select(col("doc_id"), col("n_phrase"))
        .orderBy(col("n_phrase").desc, col("doc_id"))
    },

    // -- f10: Okapi BM25 — the IR scoring whose saturating-tf shape
    //    ts_rank approximates (tsrank.c's tf/(1+tf) is BM25's k1→∞
    //    limit without idf); the standard first-stage retriever of a
    //    RAG / training-data curation pipeline. Corpus statistics
    //    (N, Σdl, per-term df) are ONE map-side-combined aggregate
    //    broadcast back as a single row; scoring is then per-row
    //    codegen arithmetic — no shuffle besides the top-k. All stat
    //    inputs are exact BIGINTs, so the double formula is evaluated
    //    identically in both engines from identical integers;
    //    avgdl enters as dl·N/Σdl to keep one division site --
    "f10_bm25" -> { (s, dir) =>
      val d = Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("dl", size(col("toks")))
        .withColumn("tf_merge", expr("size(filter(toks, x -> x = 'merge'))"))
        .withColumn("tf_vector", expr("size(filter(toks, x -> x = 'vector'))"))
        .select(col("doc_id"), col("dl"), col("tf_merge"), col("tf_vector"))
      val stats = d.agg(
        count(lit(1)).as("n_docs"),
        sum(col("dl")).as("sum_dl"),
        sum((col("tf_merge") > 0).cast("long")).as("df_merge"),
        sum((col("tf_vector") > 0).cast("long")).as("df_vector"))
      // k1 = 1.2, b = 0.75 (the Robertson defaults)
      def part(tf: String, df: String) =
        s"""CASE WHEN $tf > 0 THEN
              ln((n_docs - $df + 0.5) / ($df + 0.5) + 1.0) *
              ($tf * 2.2) /
              ($tf + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(sum_dl AS DOUBLE)))
            ELSE 0.0 END"""
      // r17: the probe branch derives separately from the stats branch
      // (the plan already scanned documents twice — crossJoin of d with
      // agg(d)) so the match filter can bind the tokenize ONCE:
      // tf_merge + tf_vector > 0 ⟺ either term present (sizes are
      // non-negative), and the exists-binding leaves one chain per row
      // in the pushed filter where the old tf-sum spelling inlined two
      // (the f09 substitution class; stats stays unfiltered as BM25
      // requires)
      val probe = Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .filter(expr("exists(array(toks), t -> array_contains(t, 'merge')" +
          " OR array_contains(t, 'vector'))"))
        .withColumn("dl", size(col("toks")))
        .withColumn("tf_merge", expr("size(filter(toks, x -> x = 'merge'))"))
        .withColumn("tf_vector", expr("size(filter(toks, x -> x = 'vector'))"))
        .select(col("doc_id"), col("dl"), col("tf_merge"), col("tf_vector"))
      probe.crossJoin(broadcast(stats))
        .withColumn("score",
          round(expr(part("tf_merge", "df_merge") + " + " + part("tf_vector", "df_vector")), 6))
        .select(col("doc_id"), col("tf_merge"), col("tf_vector"), col("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(30)
    },

    // -- f11: text-search CONFIGURATION — dictionary chain applied at
    //    tsvector build time (reference `src/backend/tsearch/
    //    dict_simple.c` stopword filtering + `src/backend/snowball/
    //    dict_snowball.c` stemming; the config plumbing is
    //    ts_cache.c's dictionary list per token type). The build is:
    //    tokenize → drop stopwords → stem every surviving token with
    //    the suffix ladder (t12's snowball-step-1a/1b subset) → lexemes.
    //    The QUERY term goes through the SAME chain — to_tsquery applies
    //    the config symmetrically, so the inflected query 'merges'
    //    normalizes to 'merge' and matches the corpus (the corpus
    //    vocabulary is uninflected, so query-side stemming is exactly
    //    where the dictionary proves itself) — and the rank normalizes
    //    by the LEXEME count, not the raw token count: the config
    //    changes both matching and normalization, which is the point of
    //    this query. Per-row codegen'd HOFs; the identical chain runs in
    //    the DuckDB oracle so ranks hash-match --
    "f11_fts_config" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("lex", expr(
          s"transform(filter(toks, t -> NOT array_contains($StopArr, t)), $StemLadder)"))
        .withColumn("qlex", expr(
          s"element_at(transform(array('merges'), $StemLadder), 1)"))
        .withColumn("n_lex", size(col("lex")).cast("bigint"))
        .withColumn("tf_stem", expr("size(filter(lex, x -> x = qlex))").cast("bigint"))
        // NOT the f09 substitution class (r17 audit): tf_stem references
        // lex exactly once, so the pushed filter carries ONE
        // tokenize+stem chain — the minimum for stemmed-match filtering.
        // (Its transform=2/line audit reading is qlex's one-element
        // literal transform, constant work per row.)
        .filter(col("tf_stem") > 0)
        .withColumn("rank", round(expr(
          "(CAST(tf_stem AS DOUBLE) / (1.0 + tf_stem)) / (1.0 + ln(n_lex))"), 6))
        .select(col("doc_id"), col("n_lex"), col("tf_stem"), col("rank"))
        .orderBy(col("rank").desc, col("doc_id"))
        .limit(30)
    },

    // -- f12: websearch_to_tsquery — the web-style query grammar
    //    (reference `src/backend/utils/adt/to_tsany.c`
    //    websearch_to_tsquery_byid: unquoted words AND, the bare word
    //    `or` is OR at lowest precedence, `-term` is NOT, "quoted
    //    words" become a followed-by phrase). Like PG, the query
    //    string is parsed ONCE at plan time (PG parses to a TSQuery
    //    node tree; here `Websearch.compile*` builds the same operator
    //    tree and emits it as a boolean expression over the token
    //    array) — per-row evaluation is pure codegen'd HOF arithmetic,
    //    no UDF, no per-row parsing. The DuckDB oracle is emitted from
    //    the SAME parse, so the two engines evaluate one tree.
    //    Output: matched docs, per-branch flags, n_hits = matched
    //    positive atoms (coarse relevance like ts_rank's term count) --
    "f12_websearch" -> { (s, dir) =>
      val q = Websearch.parse(WebsearchQuery)
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        // r16: the OR-of-branches filter re-emitted over toksBound's
        // lambda variable — ONE tokenize in the pushed filter (the
        // worst case of the f09 class: eight per corpus row before)
        .filter(expr(toksBound(
          s"${Websearch.sparkBranch(q(0), "t")} OR ${Websearch.sparkBranch(q(1), "t")}")))
        .withColumn("b0", expr(Websearch.sparkBranch(q(0))))
        .withColumn("b1", expr(Websearch.sparkBranch(q(1))))
        .withColumn("n_hits", expr(Websearch.sparkHits(q)).cast("bigint"))
        .select(col("doc_id"), col("b0"), col("b1"), col("n_hits"))
        .orderBy(col("n_hits").desc, col("doc_id"))
    },

    // -- f13: ts_rewrite — tsquery SYNONYM EXPANSION (reference
    //    `src/backend/utils/adt/tsquery_rewrite.c` ts_rewrite: substitute
    //    a subquery inside a tsquery, the aliases-table idiom from the
    //    PG docs). Rule: 'merge' ::= 'merge' | 'join' applied to the
    //    query 'merge & fast'. The rewrite happens at PLAN time (PG
    //    rewrites the TSQuery tree once, QTNode substitution) — the
    //    per-row work is the same codegen'd HOF arithmetic as f01. The
    //    result carries both the pre- and post-rewrite match so the
    //    oracle proves the expansion CHANGED retrieval (docs_gained),
    //    and rank_after saturates over the expanded alternation's
    //    combined tf exactly as ts_rank scores an OR node --
    "f13_ts_rewrite" -> { (s, dir) =>
      Tables.df(s, dir, "documents")
        .withColumn("toks", expr(toks))
        .withColumn("tf_merge", expr("size(filter(toks, x -> x = 'merge'))"))
        .withColumn("tf_join", expr("size(filter(toks, x -> x = 'join'))"))
        .withColumn("tf_fast", expr("size(filter(toks, x -> x = 'fast'))"))
        // r16: m_after's filter bound via toksBound — one tokenize in
        // the pushed filter (was three); the m columns compute above
        .filter(expr(toksBound(
          "size(array_intersect(t, array('merge', 'join'))) >= 1 AND array_contains(t, 'fast')")))
        .withColumn("m_before", col("tf_merge") > 0 && col("tf_fast") > 0)
        .withColumn("m_after",
          (col("tf_merge") + col("tf_join")) > 0 && col("tf_fast") > 0)
        .withColumn("tf_or", col("tf_merge") + col("tf_join"))
        .withColumn("rank_after", round(expr(
          """(CAST(tf_or AS DOUBLE) / (1.0 + tf_or) +
              CAST(tf_fast AS DOUBLE) / (1.0 + tf_fast)) / (1.0 + ln(size(toks)))"""), 6))
        .select(col("doc_id"), col("m_before"),
          (!col("m_before")).as("gained"), col("rank_after"))
        .orderBy(col("rank_after").desc, col("doc_id"))
        .limit(40)
    }
  )

  /** The f12 query text: (merge & vector) | (("hash"<->"join") & !stream). */
  private val WebsearchQuery = """merge vector or "hash join" -stream"""

  /** Plan-time websearch grammar parser + two emitters (Spark SQL and
    * DuckDB SQL) over a token-array column named `toks`. Atom forms:
    * Word, Not(word), Phrase(words). Branches are OR'd; atoms within a
    * branch are AND'd — websearch_to_tsquery's precedence exactly. */
  private[graft] object Websearch {
    sealed trait Atom
    case class Word(w: String) extends Atom
    case class Not(w: String) extends Atom
    case class Phrase(ws: Seq[String]) extends Atom

    def parse(q: String): Seq[Seq[Atom]] = {
      // tokenize: quoted phrase | -word | word; `or` splits branches
      val pat = java.util.regex.Pattern.compile("\"([^\"]*)\"|(-?[^\\s\"]+)")
      val m = pat.matcher(q)
      val branches = scala.collection.mutable.ArrayBuffer(scala.collection.mutable.ArrayBuffer[Atom]())
      while (m.find()) {
        if (m.group(1) != null) {
          val ws = m.group(1).toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
          if (ws.nonEmpty) branches.last += (if (ws.size == 1) Word(ws.head) else Phrase(ws))
        } else m.group(2).toLowerCase match {
          case "or" => branches += scala.collection.mutable.ArrayBuffer[Atom]()
          case w if w.startsWith("-") && w.length > 1 => branches.last += Not(w.drop(1))
          case w => branches.last += Word(w)
        }
      }
      branches.map(_.toSeq).toSeq
    }

    private def atom(a: Atom, contains: String => String,
                     phrase: Seq[String] => String): String = a match {
      case Word(w) => contains(w)
      case Not(w) => s"NOT ${contains(w)}"
      case Phrase(ws) => phrase(ws)
    }

    // Both emitters interpolate parsed words into SQL string literals:
    // escape single quotes ('' is the literal-quote escape in BOTH
    // dialects) so a future query string containing ' can't produce a
    // malformed or injectable expression (r8 advice).
    private def esc(w: String) = w.replace("'", "''")

    // Spark: array_contains; phrase via a fold of shifted-slice matches
    // — NOT element_at(toks, i + k) inside a sequence lambda, which
    // after projection collapse re-tokenizes the document once per
    // position (O(L²) in doc length; the f16 lesson from the r10
    // length-axis sweep). Each word's positional match vector comes
    // from ONE slice + transform whose lambda touches only its own
    // argument; the phrase hits are the AND-fold of those vectors.
    private def sparkContains(w: String, v: String) =
      s"array_contains($v, '${esc(w)}')"
    private def sparkPhrase(ws: Seq[String], v: String) = {
      val n = ws.size
      val win = s"(size($v) - ${n - 1})"
      val vecs = ws.zipWithIndex.map { case (w, i) =>
        s"transform(slice($v, ${i + 1}, $win), x -> x = '${esc(w)}')"
      }
      val folded = vecs.reduce((a, b) => s"zip_with($a, $b, (p, q) -> p AND q)")
      s"(size($v) >= $n AND array_contains($folded, true))"
    }
    /** `v` names the token-array column (or a bound lambda variable —
      * the toksBound filter rewrite emits the same tree over `t`). */
    def sparkAtom(a: Atom, v: String = "toks"): String =
      atom(a, sparkContains(_, v), sparkPhrase(_, v))
    def sparkBranch(b: Seq[Atom], v: String = "toks"): String =
      b.map(sparkAtom(_, v)).mkString("(", " AND ", ")")
    /** Count of positive atoms (words/phrases, not negations) that hit. */
    def sparkHits(q: Seq[Seq[Atom]]): String =
      q.flatten.collect {
        case a @ (Word(_) | Phrase(_)) => s"CAST(${sparkAtom(a)} AS INT)"
      }.mkString(" + ")

    private def duckContains(w: String) = s"list_contains(toks, '${esc(w)}')"
    private def duckPhrase(ws: Seq[String]) = {
      val n = ws.size
      val conds = ws.zipWithIndex
        .map { case (w, i) => s"toks[i + $i] = '${esc(w)}'" }.mkString(" AND ")
      s"(len(toks) >= $n AND len(list_filter(generate_series(1, len(toks) - ${n - 1}), i -> $conds)) > 0)"
    }
    def duckAtom(a: Atom): String = atom(a, duckContains, duckPhrase)
    def duckBranch(b: Seq[Atom]): String = b.map(duckAtom).mkString("(", " AND ", ")")
    def duckHits(q: Seq[Seq[Atom]]): String =
      q.flatten.collect {
        case a @ (Word(_) | Phrase(_)) => s"CAST(${duckAtom(a)} AS INT)"
      }.mkString(" + ")
  }

  /** Stopword list — a fixed subset of snowball's english.stop (the
    * `simple` dictionary's StopList), shared verbatim with the oracle. */
  private val StopWords = Seq(
    "i", "me", "my", "we", "our", "you", "the", "a", "an", "and", "or",
    "but", "if", "then", "of", "at", "by", "for", "with", "to", "from",
    "in", "on", "is", "are", "was", "be", "this", "that", "it", "as",
    "not", "no", "so")
  private val StopArr = StopWords.map("'" + _ + "'").mkString("array(", ",", ")")
  private val duckStopArr = StopWords.map("'" + _ + "'").mkString("[", ",", "]")

  /** t12's suffix ladder as a lambda body (snowball step-1a/1b subset):
    * sses→ss(drop 2), ies→y, ss kept, s dropped, ing/ed stripped. */
  private val StemLadder =
    """w -> CASE WHEN w LIKE '%sses' THEN substring(w, 1, length(w) - 2)
               WHEN w LIKE '%ies' AND length(w) > 4
                 THEN concat(substring(w, 1, length(w) - 3), 'y')
               WHEN w LIKE '%ss' THEN w
               WHEN w LIKE '%s' AND length(w) > 3 THEN substring(w, 1, length(w) - 1)
               WHEN w LIKE '%ing' AND length(w) > 5 THEN substring(w, 1, length(w) - 3)
               WHEN w LIKE '%ed' AND length(w) > 4 THEN substring(w, 1, length(w) - 2)
               ELSE w END"""

  /** The (word → stem) dictionary below was GENERATED by the unit-tested
    * FrenchStem implementation over the full non-stopword vocabulary and
    * FROZEN here (f14's discipline): a stemmer regression now fails the
    * driver compare loudly instead of silently tracking the change;
    * FullTextSpec re-derives it per run as the in-repo early warning. */
  private[graft] val FrozenFrenchDict: String =
    """('blanche', 'blanch'),
          ('blanches', 'blanch'),
          ('chaque', 'chaqu'),
          ('collines', 'collin'),
          ('construction', 'construct'),
          ('construites', 'construit'),
          ('continuaient', 'continu'),
          ('continuation', 'continu'),
          ('continue', 'continu'),
          ('continuera', 'continu'),
          ('célèbre', 'célebr'),
          ('difficultés', 'difficult'),
          ('discutent', 'discutent'),
          ('domine', 'domin'),
          ('enfants', 'enfant'),
          ('ensemble', 'ensembl'),
          ('fleuri', 'fleur'),
          ('furent', 'furent'),
          ('fête', 'fêt'),
          ('grande', 'grand'),
          ('habitaient', 'habit'),
          ('habitants', 'habit'),
          ('jardin', 'jardin'),
          ('maison', 'maison'),
          ('maisons', 'maison'),
          ('majesté', 'majest'),
          ('majeures', 'majeur'),
          ('malgré', 'malgr'),
          ('mangeait', 'mang'),
          ('mangent', 'mangent'),
          ('mangerons', 'mang'),
          ('matin', 'matin'),
          ('motivation', 'motiv'),
          ('nation', 'nation'),
          ('national', 'national'),
          ('nationale', 'national'),
          ('nationales', 'national'),
          ('nations', 'nation'),
          ('petite', 'petit'),
          ('politiques', 'polit'),
          ('pomme', 'pomm'),
          ('pommes', 'pomm'),
          ('projet', 'projet'),
          ('près', 'pres'),
          ('rapidement', 'rapid'),
          ('rapidité', 'rapid'),
          ('restaurant', 'restaur'),
          ('rouge', 'roug'),
          ('rouges', 'roug'),
          ('surprend', 'surprend'),
          ('travail', 'travail'),
          ('travailler', 'travaill'),
          ('travaux', 'traval'),
          ('unies', 'uni'),
          ('vertes', 'vert')"""

  /** Generated by the unit-tested RussianStem over the f18 corpus's
    * full non-stopword vocabulary and FROZEN (FrozenFrenchDict's
    * discipline — FunctionsSpec re-derives it per run). */
  private[graft] val FrozenRussianDict: String =
    """('библиотеке', 'библиотек'),
          ('большом', 'больш'),
          ('важным', 'важн'),
          ('вечером', 'вечер'),
          ('видят', 'вид'),
          ('вместе', 'вмест'),
          ('говорили', 'говор'),
          ('говорит', 'говор'),
          ('говорить', 'говор'),
          ('город', 'город'),
          ('городах', 'город'),
          ('городе', 'город'),
          ('день', 'ден'),
          ('дети', 'дет'),
          ('дома', 'дом'),
          ('журналы', 'журнал'),
          ('здания', 'здан'),
          ('каждый', 'кажд'),
          ('книга', 'книг'),
          ('книги', 'книг'),
          ('красивая', 'красив'),
          ('красивые', 'красив'),
          ('красивых', 'красив'),
          ('лежит', 'леж'),
          ('любит', 'люб'),
          ('любят', 'люб'),
          ('медленно', 'медлен'),
          ('над', 'над'),
          ('новой', 'нов'),
          ('новости', 'новост'),
          ('окна', 'окн'),
          ('очень', 'очен'),
          ('площадь', 'площад'),
          ('про', 'про'),
          ('проектом', 'проект'),
          ('работает', 'работа'),
          ('работал', 'работа'),
          ('работали', 'работа'),
          ('работать', 'работа'),
          ('редкие', 'редк'),
          ('севере', 'север'),
          ('старый', 'стар'),
          ('столе', 'стол'),
          ('студент', 'студент'),
          ('студенты', 'студент'),
          ('туристы', 'турист'),
          ('украшает', 'украша'),
          ('улицы', 'улиц'),
          ('утро', 'утр'),
          ('учатся', 'учат'),
          ('учились', 'уч'),
          ('учитель', 'учител'),
          ('читал', 'чита'),
          ('широкие', 'широк'),
          ('школе', 'школ'),
          ('эта', 'эт'),
          ('ясно', 'ясн')"""

  /** f17/f18 share one oracle builder: the config-driven ranked search
    * differs only in (corpus, frozen dictionary, query stem). */
  private def configOracle(corpus: Seq[(Long, String)], dictVals: String,
      duckStopArr: String, qstem: String): String = {
    val corpusVals = corpus.map { case (id, t) => s"($id, '$t')" }.mkString(",\n          ")
    s"""
      WITH corpus(doc_id, text) AS (VALUES
          $corpusVals),
      toked AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM corpus),
      filtered AS (
        SELECT doc_id, w FROM toked
        WHERE NOT list_contains($duckStopArr, w)),
      dict(w, stem) AS (VALUES
          $dictVals),
      lexed AS (
        SELECT f.doc_id, d.stem FROM filtered f JOIN dict d USING (w)),
      agg AS (
        SELECT doc_id, count(*) AS n_lex,
          sum(CASE WHEN stem = '$qstem' THEN 1 ELSE 0 END) AS tf_q
        FROM lexed GROUP BY doc_id)
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(n_lex AS BIGINT) AS n_lex, CAST(tf_q AS BIGINT) AS tf_q,
        round((CAST(tf_q AS DOUBLE) / (1.0 + tf_q)) / (1.0 + ln(n_lex)), 6) AS rank
      FROM agg WHERE tf_q > 0 ORDER BY rank DESC, doc_id"""
  }

  private def russianOracle: String =
    configOracle(RussianCorpus, FrozenRussianDict,
      FtsConfig("russian").duckStopArr, "работа")

  private def frenchOracle: String = {
    val cfg = FtsConfig("french")
    val corpusVals = FrenchCorpus.map { case (id, t) => s"($id, '$t')" }.mkString(",\n          ")
    val dictVals = FrozenFrenchDict
    val qstem = "continu" // frozen with the dictionary
    s"""
      WITH corpus(doc_id, text) AS (VALUES
          $corpusVals),
      toked AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM corpus),
      filtered AS (
        SELECT doc_id, w FROM toked
        WHERE NOT list_contains(${cfg.duckStopArr}, w)),
      dict(w, stem) AS (VALUES
          $dictVals),
      lexed AS (
        SELECT f.doc_id, d.stem FROM filtered f JOIN dict d USING (w)),
      agg AS (
        SELECT doc_id, count(*) AS n_lex,
          sum(CASE WHEN stem = '$qstem' THEN 1 ELSE 0 END) AS tf_q
        FROM lexed GROUP BY doc_id)
      SELECT CAST(doc_id AS BIGINT) AS doc_id,
        CAST(n_lex AS BIGINT) AS n_lex, CAST(tf_q AS BIGINT) AS tf_q,
        round((CAST(tf_q AS DOUBLE) / (1.0 + tf_q)) / (1.0 + ln(n_lex)), 6) AS rank
      FROM agg WHERE tf_q > 0 ORDER BY rank DESC, doc_id"""
  }

  def oracle: Map[String, String] = Map(

    "f17_french_config" -> frenchOracle,

    // f19: the synonym rules replay as DATA (generated from F19Rules —
    // one source of truth with the Spark config). Unmatched tokens map
    // to [w] rather than [stem(w)]: lexeme VALUES of unmatched tokens
    // only reach the result through equality with the query lexeme
    // 'quick', and the corpus vocabulary (fixed, 31 words, audited)
    // contains no token whose raw form or porter stem is 'quick', so
    // the identity map is value-equivalent and keeps the oracle free of
    // an embedded stem dictionary. Counts (n_lex) are unaffected: both
    // maps emit exactly one lexeme per unmatched token.
    "f19_synonym_config" -> {
      val cases = F19Rules.map { case (k, out) =>
        s"WHEN w = '$k' THEN [${out.map("'" + _ + "'").mkString(",")}]"
      }.mkString(" ")
      s"""
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      lexed AS (
        SELECT doc_id,
          flatten(list_transform(
            list_filter(toks, t -> NOT list_contains($duckStopArr, t)),
            w -> CASE $cases ELSE [w] END)) AS lex
        FROM toked),
      scored AS (
        SELECT doc_id, CAST(len(lex) AS BIGINT) AS n_lex,
          CAST(len(list_filter(lex, x -> x = 'quick')) AS BIGINT) AS tf_q
        FROM lexed)
      SELECT doc_id, n_lex, tf_q,
        round((CAST(tf_q AS DOUBLE) / (1.0 + tf_q)) / (1.0 + ln(n_lex)), 6) AS rank
      FROM scored WHERE tf_q > 0
      ORDER BY rank DESC, doc_id LIMIT 30"""
    },

    // f20: the dict_int truncation arithmetic replayed directly over
    // the integer-class tokens (the word chain never touches digit
    // lexemes, so the oracle may skip it wholesale)
    "f20_intdict_config" -> """
      WITH lines AS (
        SELECT 'invoice ' || CAST(o_orderkey * 31 AS VARCHAR) || ' net -' ||
               CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR) ||
               ' ref ' || CAST(o_orderkey * 1000003 AS VARCHAR) AS text
        FROM orders WHERE o_orderkey % 10 = 0),
      toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM lines),
      ints AS (
        SELECT CASE WHEN length(t) > 6 THEN substring(t, 1, 6) ELSE t END AS lexeme
        FROM (SELECT regexp_replace(w, '^[+-]', '') AS t FROM toks
              WHERE regexp_matches(w, '^[+-]?[0-9]+$')) s)
      SELECT CAST(length(lexeme) AS INT) AS len,
        CAST(count(*) AS BIGINT) AS n_lexemes,
        CAST(count(DISTINCT lexeme) AS BIGINT) AS n_distinct,
        min(lexeme) AS min_lexeme, max(lexeme) AS max_lexeme
      FROM ints GROUP BY 1 ORDER BY len""",
    "f18_russian_config" -> russianOracle,

    "f16_phrase_distance" -> """
      WITH t AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      hits AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS doclen,
          CASE WHEN len(toks) <= 2 THEN 0
               ELSE len(list_filter(generate_series(1, len(toks) - 2),
                 i -> toks[i] = 'hash' AND toks[i + 2] = 'join')) END AS n_hits
        FROM t)
      SELECT doc_id, CAST(n_hits AS BIGINT) AS n_hits, doclen
      FROM hits WHERE n_hits > 0 ORDER BY doc_id""",

    // corpus tokens map through the embedded base-word stem dictionary
    // (the f14 dictionary's suffix-"" rows); inner join → vocabulary
    // drift is a loud row/denominator change, not a silent pass
    "f15_stemmed_rank" -> """
      WITH dict(w, st) AS (VALUES
          ('a', 'a'),
          ('agg', 'agg'),
          ('batch', 'batch'),
          ('big', 'big'),
          ('column', 'column'),
          ('customer', 'custom'),
          ('data', 'data'),
          ('dup', 'dup'),
          ('fast', 'fast'),
          ('filter', 'filter'),
          ('group', 'group'),
          ('hash', 'hash'),
          ('join', 'join'),
          ('key', 'kei'),
          ('line', 'line'),
          ('merge', 'merg'),
          ('order', 'order'),
          ('part', 'part'),
          ('query', 'queri'),
          ('row', 'row'),
          ('scan', 'scan'),
          ('slow', 'slow'),
          ('small', 'small'),
          ('sort', 'sort'),
          ('spark', 'spark'),
          ('stream', 'stream'),
          ('table', 'tabl'),
          ('the', 'the'),
          ('value', 'valu'),
          ('vector', 'vector'),
          ('window', 'window')),
      toks AS (
        SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
        FROM documents),
      st AS (
        SELECT t.doc_id, d.st FROM toks t JOIN dict d ON d.w = t.w),
      tf AS (
        SELECT doc_id,
          count(CASE WHEN st = 'merg' THEN 1 END) AS tf_merg,
          count(CASE WHEN st = 'vector' THEN 1 END) AS tf_vector,
          count(*) AS n
        FROM st GROUP BY doc_id)
      SELECT doc_id, CAST(tf_merg AS BIGINT) AS tf_merg,
        CAST(tf_vector AS BIGINT) AS tf_vector,
        round((CAST(tf_merg AS DOUBLE) / (1.0 + tf_merg)
             + CAST(tf_vector AS DOUBLE) / (1.0 + tf_vector)) / (1.0 + ln(n)), 6) AS rank
      FROM tf WHERE tf_merg > 0 AND tf_vector > 0
      ORDER BY rank DESC, doc_id LIMIT 30""",

    // the (inflected -> stem) dictionary below is GENERATED by the
    // unit-tested graft.functions.PorterStem implementation over the
    // corpus vocabulary x the probe suffixes; the inner joins make any
    // vocabulary drift a loud row-count failure
    "f14_porter_stems" -> """
      WITH census AS (
        SELECT w, CAST(count(*) AS BIGINT) AS n_base
        FROM (SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS w
              FROM documents) t
        GROUP BY w),
      sufs AS (
        SELECT unnest(['', 's', 'ing', 'ed', 'er', 'ation', 'ational', 'iveness']) AS suf),
      dict(infl, stem) AS (VALUES
          ('a', 'a'),
          ('as', 'as'),
          ('aing', 'a'),
          ('aed', 'a'),
          ('aer', 'aer'),
          ('aation', 'aation'),
          ('aational', 'aation'),
          ('aiveness', 'aiv'),
          ('agg', 'agg'),
          ('aggs', 'agg'),
          ('agging', 'ag'),
          ('agged', 'ag'),
          ('agger', 'agger'),
          ('aggation', 'aggat'),
          ('aggational', 'aggat'),
          ('aggiveness', 'aggiv'),
          ('batch', 'batch'),
          ('batchs', 'batch'),
          ('batching', 'batch'),
          ('batched', 'batch'),
          ('batcher', 'batcher'),
          ('batchation', 'batchat'),
          ('batchational', 'batchat'),
          ('batchiveness', 'batchiv'),
          ('big', 'big'),
          ('bigs', 'big'),
          ('biging', 'bige'),
          ('biged', 'bige'),
          ('biger', 'biger'),
          ('bigation', 'bigat'),
          ('bigational', 'bigat'),
          ('bigiveness', 'bigiv'),
          ('column', 'column'),
          ('columns', 'column'),
          ('columning', 'column'),
          ('columned', 'column'),
          ('columner', 'column'),
          ('columnation', 'column'),
          ('columnational', 'column'),
          ('columniveness', 'column'),
          ('customer', 'custom'),
          ('customers', 'custom'),
          ('customering', 'custom'),
          ('customered', 'custom'),
          ('customerer', 'customer'),
          ('customeration', 'customer'),
          ('customerational', 'customer'),
          ('customeriveness', 'customer'),
          ('data', 'data'),
          ('datas', 'data'),
          ('dataing', 'data'),
          ('dataed', 'data'),
          ('dataer', 'dataer'),
          ('dataation', 'dataat'),
          ('dataational', 'dataat'),
          ('dataiveness', 'dataiv'),
          ('dup', 'dup'),
          ('dups', 'dup'),
          ('duping', 'dupe'),
          ('duped', 'dupe'),
          ('duper', 'duper'),
          ('dupation', 'dupat'),
          ('dupational', 'dupat'),
          ('dupiveness', 'dupiv'),
          ('fast', 'fast'),
          ('fasts', 'fast'),
          ('fasting', 'fast'),
          ('fasted', 'fast'),
          ('faster', 'faster'),
          ('fastation', 'fastat'),
          ('fastational', 'fastat'),
          ('fastiveness', 'fastiv'),
          ('filter', 'filter'),
          ('filters', 'filter'),
          ('filtering', 'filter'),
          ('filtered', 'filter'),
          ('filterer', 'filter'),
          ('filteration', 'filter'),
          ('filterational', 'filter'),
          ('filteriveness', 'filter'),
          ('group', 'group'),
          ('groups', 'group'),
          ('grouping', 'group'),
          ('grouped', 'group'),
          ('grouper', 'grouper'),
          ('groupation', 'groupat'),
          ('groupational', 'groupat'),
          ('groupiveness', 'groupiv'),
          ('hash', 'hash'),
          ('hashs', 'hash'),
          ('hashing', 'hash'),
          ('hashed', 'hash'),
          ('hasher', 'hasher'),
          ('hashation', 'hashat'),
          ('hashational', 'hashat'),
          ('hashiveness', 'hashiv'),
          ('join', 'join'),
          ('joins', 'join'),
          ('joining', 'join'),
          ('joined', 'join'),
          ('joiner', 'joiner'),
          ('joination', 'joinat'),
          ('joinational', 'joinat'),
          ('joiniveness', 'joiniv'),
          ('key', 'kei'),
          ('keys', 'kei'),
          ('keying', 'kei'),
          ('keyed', 'kei'),
          ('keyer', 'keyer'),
          ('keyation', 'keyat'),
          ('keyational', 'keyat'),
          ('keyiveness', 'keyiv'),
          ('line', 'line'),
          ('lines', 'line'),
          ('lineing', 'line'),
          ('lineed', 'line'),
          ('lineer', 'lineer'),
          ('lineation', 'lineat'),
          ('lineational', 'lineat'),
          ('lineiveness', 'lineiv'),
          ('merge', 'merg'),
          ('merges', 'merg'),
          ('mergeing', 'merg'),
          ('mergeed', 'merge'),
          ('mergeer', 'mergeer'),
          ('mergeation', 'mergeat'),
          ('mergeational', 'mergeat'),
          ('mergeiveness', 'mergeiv'),
          ('order', 'order'),
          ('orders', 'order'),
          ('ordering', 'order'),
          ('ordered', 'order'),
          ('orderer', 'order'),
          ('orderation', 'order'),
          ('orderational', 'order'),
          ('orderiveness', 'order'),
          ('part', 'part'),
          ('parts', 'part'),
          ('parting', 'part'),
          ('parted', 'part'),
          ('parter', 'parter'),
          ('partation', 'partat'),
          ('partational', 'partat'),
          ('partiveness', 'partiv'),
          ('query', 'queri'),
          ('querys', 'queri'),
          ('querying', 'queri'),
          ('queryed', 'queri'),
          ('queryer', 'queryer'),
          ('queryation', 'queryat'),
          ('queryational', 'queryat'),
          ('queryiveness', 'queryiv'),
          ('row', 'row'),
          ('rows', 'row'),
          ('rowing', 'row'),
          ('rowed', 'row'),
          ('rower', 'rower'),
          ('rowation', 'rowat'),
          ('rowational', 'rowat'),
          ('rowiveness', 'rowiv'),
          ('scan', 'scan'),
          ('scans', 'scan'),
          ('scaning', 'scane'),
          ('scaned', 'scane'),
          ('scaner', 'scaner'),
          ('scanation', 'scanat'),
          ('scanational', 'scanat'),
          ('scaniveness', 'scaniv'),
          ('slow', 'slow'),
          ('slows', 'slow'),
          ('slowing', 'slow'),
          ('slowed', 'slow'),
          ('slower', 'slower'),
          ('slowation', 'slowat'),
          ('slowational', 'slowat'),
          ('slowiveness', 'slowiv'),
          ('small', 'small'),
          ('smalls', 'small'),
          ('smalling', 'small'),
          ('smalled', 'small'),
          ('smaller', 'smaller'),
          ('smallation', 'smallat'),
          ('smallational', 'smallat'),
          ('smalliveness', 'smalliv'),
          ('sort', 'sort'),
          ('sorts', 'sort'),
          ('sorting', 'sort'),
          ('sorted', 'sort'),
          ('sorter', 'sorter'),
          ('sortation', 'sortat'),
          ('sortational', 'sortat'),
          ('sortiveness', 'sortiv'),
          ('spark', 'spark'),
          ('sparks', 'spark'),
          ('sparking', 'spark'),
          ('sparked', 'spark'),
          ('sparker', 'sparker'),
          ('sparkation', 'sparkat'),
          ('sparkational', 'sparkat'),
          ('sparkiveness', 'sparkiv'),
          ('stream', 'stream'),
          ('streams', 'stream'),
          ('streaming', 'stream'),
          ('streamed', 'stream'),
          ('streamer', 'streamer'),
          ('streamation', 'streamat'),
          ('streamational', 'streamat'),
          ('streamiveness', 'streamiv'),
          ('table', 'tabl'),
          ('tables', 'tabl'),
          ('tableing', 'tabl'),
          ('tableed', 'table'),
          ('tableer', 'tableer'),
          ('tableation', 'tableat'),
          ('tableational', 'tableat'),
          ('tableiveness', 'tableiv'),
          ('the', 'the'),
          ('thes', 'the'),
          ('theing', 'the'),
          ('theed', 'theed'),
          ('theer', 'theer'),
          ('theation', 'theation'),
          ('theational', 'theation'),
          ('theiveness', 'theiv'),
          ('value', 'valu'),
          ('values', 'valu'),
          ('valueing', 'valu'),
          ('valueed', 'value'),
          ('valueer', 'valueer'),
          ('valueation', 'valueat'),
          ('valueational', 'valueat'),
          ('valueiveness', 'valueiv'),
          ('vector', 'vector'),
          ('vectors', 'vector'),
          ('vectoring', 'vector'),
          ('vectored', 'vector'),
          ('vectorer', 'vector'),
          ('vectoration', 'vector'),
          ('vectorational', 'vector'),
          ('vectoriveness', 'vector'),
          ('window', 'window'),
          ('windows', 'window'),
          ('windowing', 'window'),
          ('windowed', 'window'),
          ('windower', 'window'),
          ('windowation', 'window'),
          ('windowational', 'window'),
          ('windowiveness', 'window')),
      inflected AS (
        SELECT c.w || s.suf AS inflected, c.w AS base, c.n_base
        FROM census c CROSS JOIN sufs s)
      SELECT i.inflected, i.n_base, d.stem,
        CAST(CASE WHEN d.stem = db.stem THEN 1 ELSE 0 END AS INT) AS collapsed
      FROM inflected i
      JOIN dict d ON d.infl = i.inflected
      JOIN dict db ON db.infl = i.base
      ORDER BY i.inflected""",
    "f01_fts_rank" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, len(toks) AS n_toks,
          len(list_filter(toks, x -> x = 'merge')) AS tf_merge,
          len(list_filter(toks, x -> x = 'vector')) AS tf_vector
        FROM toked)
      SELECT doc_id, tf_merge, tf_vector,
        round((CAST(tf_merge AS DOUBLE) / (1.0 + tf_merge) + CAST(tf_vector AS DOUBLE) / (1.0 + tf_vector))
              / (1.0 + ln(n_toks)), 6) AS rank
      FROM tf WHERE tf_merge > 0 AND tf_vector > 0
      ORDER BY rank DESC, doc_id LIMIT 30""",

    "f03_fts_weighted" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, len(toks) AS n_toks,
          len(list_filter(toks[1:8], x -> x = 'merge')) AS tfa,
          len(list_filter(toks, x -> x = 'merge')) - len(list_filter(toks[1:8], x -> x = 'merge')) AS tfd
        FROM toked)
      SELECT doc_id, CAST(tfa AS BIGINT) AS tf_title, CAST(tfd AS BIGINT) AS tf_body,
        round((1.0 * CAST(tfa AS DOUBLE) / (1.0 + tfa) + 0.1 * CAST(tfd AS DOUBLE) / (1.0 + tfd))
              / (1.0 + ln(n_toks)), 6) AS rank
      FROM tf WHERE tfa + tfd > 0
      ORDER BY rank DESC, doc_id LIMIT 30""",

    "f04_fts_boolean" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, len(toks) AS n_toks,
          len(list_filter(toks, x -> x = 'merge')) AS tf_merge,
          len(list_filter(toks, x -> x = 'sort')) AS tf_sort,
          len(list_filter(toks, x -> x = 'error')) AS tf_error
        FROM toked)
      SELECT doc_id, tf_merge, tf_sort,
        round((CAST(tf_merge AS DOUBLE) / (1.0 + tf_merge) + CAST(tf_sort AS DOUBLE) / (1.0 + tf_sort))
              / (1.0 + ln(n_toks)), 6) AS rank
      FROM tf WHERE (tf_merge > 0 OR tf_sort > 0) AND tf_error = 0
      ORDER BY rank DESC, doc_id LIMIT 30""",

    "f05_fts_headline" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      hit AS (
        SELECT doc_id, toks, list_position(toks, 'merge') AS pos
        FROM toked WHERE coalesce(list_position(toks, 'merge'), 0) > 0),
      win AS (
        SELECT doc_id, pos, greatest(pos - 3, 1) AS st, toks FROM hit)
      SELECT doc_id, CAST(pos AS BIGINT) AS first_pos,
        array_to_string(
          list_transform(toks[CAST(st AS INT) : CAST(st + 8 AS INT)],
            t -> CASE WHEN t = 'merge' THEN '<b>' || t || '</b>' ELSE t END),
          ' ') AS headline
      FROM win ORDER BY doc_id""",

    "f06_ts_stat" -> """
      SELECT word, count(*) AS ndoc, CAST(sum(nentry_doc) AS BIGINT) AS nentry
      FROM (
        SELECT doc_id, word, count(*) AS nentry_doc
        FROM (SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS word
              FROM documents) t
        GROUP BY doc_id, word) d
      GROUP BY word ORDER BY ndoc DESC, nentry DESC, word LIMIT 25""",

    "f07_fts_prefix" -> """
      SELECT doc_id, tf_prefix,
        round((CAST(tf_prefix AS DOUBLE) / (1.0 + tf_prefix)) / (1.0 + ln(n_toks)), 6) AS rank
      FROM (
        SELECT doc_id,
          len(list_filter(toks, x -> x LIKE 'merg%')) AS tf_prefix,
          len(toks) AS n_toks
        FROM (SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
              FROM documents) t) s
      WHERE tf_prefix > 0
      ORDER BY rank DESC, doc_id LIMIT 30""",

    "f02_fts_phrase" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents)
      SELECT doc_id,
        len(list_filter(generate_series(1, len(toks) - 1),
            i -> toks[i] = 'hash' AND toks[i+1] = 'join')) AS n_phrase
      FROM toked
      WHERE len(list_filter(generate_series(1, len(toks) - 1),
            i -> toks[i] = 'hash' AND toks[i+1] = 'join')) > 0
      ORDER BY n_phrase DESC, doc_id""",

    "f09_ts_rank_cd" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      ent AS (
        SELECT doc_id, list_transform(
          list_filter(generate_series(1, len(toks)), i -> toks[i] = 'scan' OR toks[i] = 'join'),
          i -> {'pos': i, 'tok': toks[i]}) AS ents
        FROM toked),
      scored AS (
        SELECT doc_id,
          len(list_filter(generate_series(1, len(ents) - 1),
              j -> ents[j].tok <> ents[j+1].tok)) AS n_covers,
          round(list_sum(list_transform(generate_series(1, len(ents) - 1),
              j -> CASE WHEN ents[j].tok <> ents[j+1].tok
                   THEN CAST(0.1 AS DOUBLE) / (ents[j+1].pos - ents[j].pos)
                   ELSE CAST(0 AS DOUBLE) END)), 6) AS rank_cd
        FROM ent)
      SELECT doc_id, n_covers, rank_cd
      FROM scored WHERE n_covers > 0
      ORDER BY rank_cd DESC, doc_id""",

    "f08_fts_phrase_dist" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents)
      SELECT doc_id,
        len(list_filter(generate_series(1, len(toks) - 2),
            i -> toks[i] = 'merge' AND toks[i+2] = 'join')) AS n_phrase
      FROM toked
      WHERE len(list_filter(generate_series(1, len(toks) - 2),
            i -> toks[i] = 'merge' AND toks[i+2] = 'join')) > 0
      ORDER BY n_phrase DESC, doc_id""",

    "f10_bm25" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, len(toks) AS dl,
          len(list_filter(toks, x -> x = 'merge')) AS tf_merge,
          len(list_filter(toks, x -> x = 'vector')) AS tf_vector
        FROM toked),
      stats AS (
        SELECT count(*) AS n_docs,
          CAST(sum(dl) AS BIGINT) AS sum_dl,
          CAST(sum(CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_merge,
          CAST(sum(CASE WHEN tf_vector > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_vector
        FROM tf)
      SELECT doc_id, CAST(tf_merge AS BIGINT) AS tf_merge,
        CAST(tf_vector AS BIGINT) AS tf_vector,
        round(
          CASE WHEN tf_merge > 0 THEN
            ln((n_docs - df_merge + 0.5) / (df_merge + 0.5) + 1.0) *
            (tf_merge * 2.2) /
            (tf_merge + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(sum_dl AS DOUBLE)))
          ELSE 0.0 END +
          CASE WHEN tf_vector > 0 THEN
            ln((n_docs - df_vector + 0.5) / (df_vector + 0.5) + 1.0) *
            (tf_vector * 2.2) /
            (tf_vector + 1.2 * (0.25 + 0.75 * dl * n_docs / CAST(sum_dl AS DOUBLE)))
          ELSE 0.0 END, 6) AS score
      FROM tf, stats
      WHERE tf_merge + tf_vector > 0
      ORDER BY score DESC, doc_id LIMIT 30""",

    "f11_fts_config" -> s"""
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      lexed AS (
        SELECT doc_id,
          list_transform(
            list_filter(toks, t -> NOT list_contains($duckStopArr, t)),
            w -> CASE WHEN w LIKE '%sses' THEN substring(w, 1, length(w) - 2)
                      WHEN w LIKE '%ies' AND length(w) > 4
                        THEN concat(substring(w, 1, length(w) - 3), 'y')
                      WHEN w LIKE '%ss' THEN w
                      WHEN w LIKE '%s' AND length(w) > 3 THEN substring(w, 1, length(w) - 1)
                      WHEN w LIKE '%ing' AND length(w) > 5 THEN substring(w, 1, length(w) - 3)
                      WHEN w LIKE '%ed' AND length(w) > 4 THEN substring(w, 1, length(w) - 2)
                      ELSE w END) AS lex
        FROM toked),
      tf AS (
        SELECT doc_id, CAST(len(lex) AS BIGINT) AS n_lex,
          CAST(len(list_filter(lex, x -> x =
            list_transform(['merges'],
              w -> CASE WHEN w LIKE '%sses' THEN substring(w, 1, length(w) - 2)
                        WHEN w LIKE '%ies' AND length(w) > 4
                          THEN concat(substring(w, 1, length(w) - 3), 'y')
                        WHEN w LIKE '%ss' THEN w
                        WHEN w LIKE '%s' AND length(w) > 3 THEN substring(w, 1, length(w) - 1)
                        WHEN w LIKE '%ing' AND length(w) > 5 THEN substring(w, 1, length(w) - 3)
                        WHEN w LIKE '%ed' AND length(w) > 4 THEN substring(w, 1, length(w) - 2)
                        ELSE w END)[1]
          )) AS BIGINT) AS tf_stem
        FROM lexed)
      SELECT doc_id, n_lex, tf_stem,
        round((CAST(tf_stem AS DOUBLE) / (1.0 + tf_stem)) / (1.0 + ln(n_lex)), 6) AS rank
      FROM tf WHERE tf_stem > 0
      ORDER BY rank DESC, doc_id LIMIT 30""",

    "f12_websearch" -> {
      val q = Websearch.parse(WebsearchQuery)
      s"""
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      flagged AS (
        SELECT doc_id,
          ${Websearch.duckBranch(q(0))} AS b0,
          ${Websearch.duckBranch(q(1))} AS b1,
          CAST(${Websearch.duckHits(q)} AS BIGINT) AS n_hits
        FROM toked)
      SELECT doc_id, b0, b1, n_hits FROM flagged
      WHERE b0 OR b1
      ORDER BY n_hits DESC, doc_id"""
    },

    "f13_ts_rewrite" -> """
      WITH toked AS (
        SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
        FROM documents),
      tf AS (
        SELECT doc_id, len(toks) AS dl,
          len(list_filter(toks, x -> x = 'merge')) AS tf_merge,
          len(list_filter(toks, x -> x = 'join')) AS tf_join,
          len(list_filter(toks, x -> x = 'fast')) AS tf_fast
        FROM toked),
      m AS (
        SELECT doc_id, dl, tf_merge + tf_join AS tf_or, tf_fast,
          (tf_merge > 0 AND tf_fast > 0) AS m_before,
          ((tf_merge + tf_join) > 0 AND tf_fast > 0) AS m_after
        FROM tf)
      SELECT doc_id, m_before, NOT m_before AS gained,
        round((CAST(tf_or AS DOUBLE) / (1.0 + tf_or) +
               CAST(tf_fast AS DOUBLE) / (1.0 + tf_fast)) / (1.0 + ln(dl)), 6)
          AS rank_after
      FROM m WHERE m_after
      ORDER BY rank_after DESC, doc_id LIMIT 40"""
  )
}
