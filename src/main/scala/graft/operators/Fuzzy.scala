package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** fuzzystrmatch slice (reference `contrib/fuzzystrmatch/fuzzystrmatch.c`):
  * `levenshtein(s, t)` (fuzzystrmatch.c:173-192 → varstr_levenshtein) and
  * the banded `levenshtein_less_equal(s, t, max)` early-exit variant
  * (fuzzystrmatch.c:225-245 → varstr_levenshtein_less_equal), the two
  * functions that carry fuzzy name-matching workloads. Spark ships both
  * natively as codegen'd expressions: 2-arg `levenshtein` and the 3-arg
  * threshold form, which — exactly like the reference's less_equal
  * kernel — only evaluates the |2k+1|-wide diagonal band and bails out
  * once the distance provably exceeds k, turning O(m·n) per pair into
  * O(k·min(m,n)) for the dominant reject case.
  *
  * The query is the canonical fuzzy-dedup shape: a small probe list
  * (vowel-stripped part names — a deterministic, engine-identical
  * "typo" model via `translate`, translate.c semantics) matched against
  * the full name corpus.
  *
  * Scale shape: probes broadcast (tiny side), the corpus streams once
  * through one WholeStageCodegen span, and the per-probe argmin is ONE
  * map-side-combinable `min` over a (dist, key) encoding — never a
  * window over the probe×corpus product (the r6 s04 lesson). The
  * banded threshold form is what makes the 100 TB version viable: at
  * k=3 a 30-char name pair costs ~200 cell updates instead of ~900,
  * and real pipelines filter on the band BEFORE computing exact
  * distances for survivors.
  */
object Fuzzy {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fz01_levenshtein_match" -> { (s, dir) =>
      val part = Tables.df(s, dir, "part")
      val probes = part.filter(col("p_partkey") < 20).select(
        col("p_partkey").as("probe_key"),
        expr("translate(p_name, 'aeiou', '')").as("probe"))
      part.select(col("p_partkey"), col("p_name"))
        .crossJoin(broadcast(probes))
        // encode argmin as one BIGINT so the aggregate is a plain
        // map-side-combinable min: (dist, partkey) -> dist*1e8 + key
        .withColumn("enc", expr(
          "CAST(levenshtein(probe, p_name) AS BIGINT) * 100000000 + p_partkey"))
        // banded early-exit form: -1 means "provably > 3"
        .withColumn("close", expr("levenshtein(probe, p_name, 3) <> -1"))
        .groupBy(col("probe_key"), col("probe"))
        .agg(
          expr("CAST(min(enc) div 100000000 AS BIGINT)").as("best_dist"),
          expr("CAST(min(enc) % 100000000 AS BIGINT)").as("best_key"),
          sum(col("close").cast("long")).as("n_within_3"))
        .orderBy(col("probe_key"))
    },

    // -- fz06: metaphone (fuzzystrmatch.c:345 `_metaphone`) — the finer
    //    phonetic key users move to when soundex over-merges: consonant
    //    PHONEMES instead of consonant classes (gear → JR where soundex
    //    keeps G600; red/rod collide at RT — same code class, which is
    //    the phonetic-recall point). Same census + probe shape as fz04:
    //    one explode, one hash aggregate, the code computed by the
    //    codegen kernel (graft.functions.Metaphone). The DuckDB oracle
    //    carries the word→code map as a frozen VALUES dict (the f14/f18
    //    discipline — the vocabulary is data, fixed across scales);
    //    algorithm fidelity is pinned separately by FunctionsSpec
    //    vectors hand-audited against the C's control flow --
    "fz06_metaphone" -> { (s, dir) =>
      Tables.df(s, dir, "part")
        .select(explode(split(lower(org.apache.spark.sql.functions.col("p_name")), "[^a-z0-9]+")).as("word"))
        .filter(col("word") =!= "")
        .withColumn("code", expr("metaphone(word, 4)"))
        .groupBy(col("code"))
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("word")).as("n_words"),
          array_join(sort_array(collect_set(col("word"))), ",").as("words"))
        .withColumn("matches_widget", col("code") === lit("WJT"))
        .orderBy(col("code"))
    },

    // -- fz07: Daitch-Mokotoff soundex (fuzzystrmatch's third phonetic
    //    system, `daitch_mokotoff.c`) — returns a SET of codes per
    //    word (alternative sounds fork: cold → {483000, 583000}), so a
    //    word lands in EVERY phonetic bucket it could sound like — the
    //    cross-transliteration recall soundex/metaphone trade away.
    //    On this vocabulary the multi-code property shows directly:
    //    bolt/plate collide at 783000 (B/P share phoneme 7) and
    //    red/rod at 930000. Same census shape as fz04/fz06 with one
    //    extra explode for the code set; the kernel is codegen
    //    (functions/DaitchMokotoff, state-set walk over the chart —
    //    verified against the reference's own regression vectors in
    //    FunctionsSpec). Oracle: frozen (word, code) dict, the f14
    //    discipline --
    "fz07_daitch_mokotoff" -> { (s, dir) =>
      Tables.df(s, dir, "part")
        .select(explode(split(lower(org.apache.spark.sql.functions.col("p_name")), "[^a-z0-9]+")).as("word"))
        .filter(col("word") =!= "")
        .select(col("word"), explode(expr("daitch_mokotoff(word)")).as("code"))
        .groupBy(col("code"))
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("word")).as("n_words"),
          array_join(sort_array(collect_set(col("word"))), ",").as("words"))
        .orderBy(col("code"))
    },

    // -- soundex + difference (fuzzystrmatch.c _soundex/difference):
    //    phonetic bucketing of the mention stream — group every part-name
    //    word by its soundex code, with difference() against a probe
    //    code. One explode + one hash aggregate; soundex itself is pure
    //    codegen string ops (translate + chained regex collapse), the
    //    same pipeline text the oracle runs --
    "fz04_soundex" -> { (s, dir) =>
      val sdx = soundexSql("word", g = false)
      Tables.df(s, dir, "part")
        .select(explode(split(lower(org.apache.spark.sql.functions.col("p_name")), "[^a-z0-9]+")).as("word"))
        .filter(col("word") =!= "")
        .withColumn("code", expr(sdx))
        .groupBy(col("code"))
        .agg(count(lit(1)).as("n_mentions"),
          countDistinct(col("word")).as("n_words"),
          array_join(sort_array(collect_set(col("word"))), ",").as("words"))
        .withColumn("diff_widget", expr(differenceSql("code")))
        .orderBy(col("code"))
    }
  )

  /** PG soundex (fuzzystrmatch.c:58 `soundex_table`, `_soundex`): first
    * letter verbatim, then each letter's code is emitted iff it differs
    * from the code of the IMMEDIATELY PRECEDING letter (emitted or not)
    * and is non-zero, first 3 such digits, zero-padded. For all-alpha
    * words that is exactly: translate through the code table, collapse
    * runs of equal digits, drop position 1, strip zeros, pad. Run
    * collapse is chained per-digit regexes (codes are 0-6) because RE2
    * (DuckDB) has no backreferences — the Spark side chains the same
    * regexes so both engines run the identical pipeline. `col` must be
    * an all-alpha word expression; `g` appends DuckDB's global flag. */
  private def soundexSql(col: String, g: Boolean): String = {
    val flag = if (g) ", 'g'" else ""
    val coded = s"translate(upper($col), 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '01230120022455012623010202')"
    val collapsed = (0 to 6).foldLeft(coded) { (acc, d) =>
      s"regexp_replace($acc, '$d$d+', '$d'$flag)"
    }
    s"rpad(concat(substring(upper($col), 1, 1), substring(replace(substring($collapsed, 2), '0', ''), 1, 3)), 4, '0')"
  }

  /** soundex('widget') = W323 under the table above — the probe code for
    * fz04's `difference()` column, precomputed as a constant. */
  private val WidgetCode = "W323"

  /** fz06's frozen word→metaphone dictionary — the full part-name
    * vocabulary (fixed across scales; the oracle treats the code map as
    * data, exactly like the f14/f17/f18 stemmer dicts). Every entry is
    * hand-audited against `fuzzystrmatch.c:345`'s control flow in
    * FunctionsSpec ("metaphone follows the PG variant..."). */
  private val MetaphoneDict: String = Seq(
    "anvil" -> "ANFL", "blue" -> "BL", "bolt" -> "BLT", "cold" -> "KLT",
    "gear" -> "JR", "gizmo" -> "JSM", "hot" -> "HT", "large" -> "LRJ",
    "new" -> "N", "old" -> "OLT", "plate" -> "PLT", "red" -> "RT",
    "ring" -> "RNK", "rod" -> "RT", "small" -> "SML", "widget" -> "WJT")
    .map { case (w, c) => s"          ('$w', '$c')," }.mkString("\n")

  /** fz07's frozen word→code-set dictionary (one row per alternative
    * code — cold forks on the C): same discipline as MetaphoneDict;
    * the ALGORITHM is pinned by the PG regression vectors in
    * FunctionsSpec, so the dict only carries vocabulary. */
  private val DaitchMokotoffDict: String = Seq(
    "anvil" -> "067800", "blue" -> "780000", "bolt" -> "783000",
    "cold" -> "483000", "cold" -> "583000", "gear" -> "590000",
    "gizmo" -> "546000", "hot" -> "530000", "large" -> "895000",
    "new" -> "670000", "old" -> "083000", "plate" -> "783000",
    "red" -> "930000", "ring" -> "965000", "rod" -> "930000",
    "small" -> "468000", "widget" -> "735300")
    .map { case (w, c) => s"          ('$w', '$c')," }.mkString("\n")

  private def differenceSql(codeCol: String): String =
    (1 to 4).map { i =>
      s"(CASE WHEN substring($codeCol, $i, 1) = substring('$WidgetCode', $i, 1) THEN 1 ELSE 0 END)"
    }.mkString("(", " + ", ")")

  def oracle: Map[String, String] = Map(
    // DuckDB has no banded 3-arg levenshtein; the oracle states the
    // same predicate as dist <= 3 over the exact distance.
    "fz01_levenshtein_match" -> """
      WITH probes AS (
        SELECT p_partkey AS probe_key, translate(p_name, 'aeiou', '') AS probe
        FROM part WHERE p_partkey < 20),
      j AS (
        SELECT probe_key, probe,
               CAST(levenshtein(probe, p_name) AS BIGINT) * 100000000
                 + p_partkey AS enc,
               levenshtein(probe, p_name) <= 3 AS close
        FROM part, probes)
      SELECT probe_key, probe,
        CAST(min(enc) // 100000000 AS BIGINT) AS best_dist,
        CAST(min(enc) % 100000000 AS BIGINT) AS best_key,
        CAST(sum(CASE WHEN close THEN 1 ELSE 0 END) AS BIGINT) AS n_within_3
      FROM j GROUP BY probe_key, probe ORDER BY probe_key""",

    "fz07_daitch_mokotoff" -> s"""
      WITH words AS (
        SELECT w AS word FROM (
          SELECT unnest(string_split_regex(lower(p_name), '[^a-z0-9]+')) AS w
          FROM part) WHERE w <> ''),
      dict(word, code) AS (VALUES
$DaitchMokotoffDict
          ('', '')),
      coded AS (SELECT w.word, d.code FROM words w JOIN dict d USING (word)),
      grouped AS (
        SELECT code, count(*) AS n_mentions,
          count(DISTINCT word) AS n_words
        FROM coded GROUP BY code),
      names AS (
        SELECT code, string_agg(word, ',' ORDER BY word) AS words
        FROM (SELECT DISTINCT code, word FROM coded) GROUP BY code)
      SELECT g.code, g.n_mentions, g.n_words, n.words
      FROM grouped g JOIN names n ON g.code = n.code
      ORDER BY g.code""",

    "fz06_metaphone" -> s"""
      WITH words AS (
        SELECT w AS word FROM (
          SELECT unnest(string_split_regex(lower(p_name), '[^a-z0-9]+')) AS w
          FROM part) WHERE w <> ''),
      dict(word, code) AS (VALUES
$MetaphoneDict
          ('', '')),
      coded AS (SELECT w.word, d.code FROM words w JOIN dict d USING (word)),
      grouped AS (
        SELECT code, count(*) AS n_mentions,
          count(DISTINCT word) AS n_words
        FROM coded GROUP BY code),
      names AS (
        SELECT code, string_agg(word, ',' ORDER BY word) AS words
        FROM (SELECT DISTINCT code, word FROM coded) GROUP BY code)
      SELECT g.code, g.n_mentions, g.n_words, n.words,
        g.code = 'WJT' AS matches_widget
      FROM grouped g JOIN names n ON g.code = n.code
      ORDER BY g.code""",

    "fz04_soundex" -> {
      val sdx = soundexSql("word", g = true)
      val diff = differenceSql("g.code")
      s"""
      WITH words AS (
        SELECT w AS word FROM (
          SELECT unnest(string_split_regex(lower(p_name), '[^a-z0-9]+')) AS w
          FROM part) WHERE w <> ''),
      coded AS (SELECT word, $sdx AS code FROM words),
      grouped AS (
        SELECT code, count(*) AS n_mentions,
          count(DISTINCT word) AS n_words
        FROM coded GROUP BY code),
      names AS (
        SELECT code, string_agg(word, ',' ORDER BY word) AS words
        FROM (SELECT DISTINCT code, word FROM coded) GROUP BY code)
      SELECT g.code, g.n_mentions, g.n_words, n.words, $diff AS diff_widget
      FROM grouped g JOIN names n ON g.code = n.code
      ORDER BY g.code"""
    }
  )
}
