package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{PgToChar, PgToCharTs}

/** Unit coverage for the pg-compat expression layer + the runtime bloom
  * filter and UDF-registration surfaces. */
class FunctionsSpec extends AnyFunSuite {
  import SparkSuite._

  test("StrHash kernel ≡ the HOF rolling-hash formula on the whole corpus") {
    val diff = Tables.df(spark, Sf, "documents").selectExpr(
      "str_hash31(text) AS a",
      """aggregate(filter(split(text, ''), c -> c <> ''),
                   0L, (acc, c) -> (acc * 31 + ascii(c)) % 1000000007) AS b""",
      "str_hash131(text) AS a2",
      """aggregate(filter(split(text, ''), c -> c <> ''),
                   7L, (acc, c) -> (acc * 131 + ascii(c)) % 1000000007) AS b2""")
      .filter("a <> b OR a2 <> b2").count()
    assert(diff == 0, "native kernel must agree with the interpreted formula")
  }

  test("VecDot kernels ≡ the HOF formulations on the whole embedding corpus") {
    val emb = Tables.df(spark, Sf, "embeddings").limit(200)
      .select(org.apache.spark.sql.functions.col("embedding").as("e"))
    val diff = emb.selectExpr(
      "vec_dot(e, e) AS a",
      "aggregate(zip_with(e, e, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (a, x) -> a + x) AS b",
      "vec_l2sq(e, e) AS c")
      .filter("a <> b OR c <> 0D").count()
    assert(diff == 0, "vec_dot must be bit-identical to the HOF dot; l2sq(x,x) must be 0")
  }

  test("pair_emit: all ordered pairs under the cap, star pairs above it") {
    import spark.implicits._
    val out = Seq(Seq(1L, 2L, 3L, 4L)).toDF("ds")
      .selectExpr("pair_emit(ds, 10) AS p").selectExpr("explode(p) AS e")
      .selectExpr("e.a_id", "e.b_id").as[(Long, Long)].collect().toSeq
    assert(out == Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
    // past the cap: k-1 star pairs against the list minimum, not C(k,2)
    val star = Seq(Seq(5L, 6L, 7L, 8L)).toDF("ds")
      .selectExpr("pair_emit(ds, 3) AS p").selectExpr("explode(p) AS e")
      .selectExpr("e.a_id", "e.b_id").as[(Long, Long)].collect().toSeq
    assert(star == Seq((5L, 6L), (5L, 7L), (5L, 8L)))
    // degenerate lists emit nothing
    val empty = Seq(Seq(9L), Seq.empty[Long]).toDF("ds")
      .selectExpr("size(pair_emit(ds, 10)) AS n").as[Int].collect().toSeq
    assert(empty == Seq(0, 0))
  }

  test("VecDot kernels: length mismatch / null element → NULL (HOF semantics)") {
    val r = spark.sql(
      """SELECT
           vec_dot(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS mm,
           vec_l2sq(array(CAST(1 AS FLOAT)), array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS mm2,
           vec_doti(array(1), array(1, 2)) AS mm3,
           vec_dot(array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT)),
                   array(CAST(1 AS FLOAT), CAST(2 AS FLOAT))) AS ne,
           vec_dot(array(CAST(1 AS FLOAT)), array(CAST(2 AS FLOAT))) AS ok
      """).head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3),
      "mismatched widths and null elements must surface as NULL, not a truncated dot")
    assert(r.getDouble(4) == 2.0)
  }

  test("MisraGries: guarantee holds under any partitioning (presence + undercount bound)") {
    import spark.implicits._
    val k = 8
    // 1000 items: 'heavy' 300×, 'warm' 150×, 50 distinct fillers ~11× each
    val stream = Seq.fill(300)("heavy") ++ Seq.fill(150)("warm") ++
      (0 until 550).map(i => s"filler${i % 50}")
    val n = stream.length
    for (parts <- Seq(1, 3, 17, 32)) {
      val ds = spark.sparkContext.parallelize(stream, parts).toDS()
      val sketch = ds.select(udaf(new graft.functions.MisraGries(k)).apply(col("value")))
        .head.getMap[String, Long](0)
      // every item with freq > N/(k+1) must be present...
      assert(sketch.contains("heavy") && sketch.contains("warm"),
        s"parts=$parts lost a guaranteed heavy hitter: $sketch")
      // ...with weight undercounting by at most N/(k+1)
      assert(sketch("heavy") >= 300 - n / (k + 1) && sketch("heavy") <= 300,
        s"parts=$parts weight bound violated: ${sketch("heavy")}")
      assert(sketch.size <= k, s"capacity exceeded: ${sketch.size}")
    }
  }

  test("vec_doti rejects non-int arrays at analysis time (4-byte kernel guard)") {
    val e = intercept[Exception] {
      spark.sql("SELECT vec_doti(array(1L, 2L), array(1L, 2L))").collect()
    }
    assert(e.getMessage.contains("vec_doti"),
      s"expected the vec_doti type-check message, got: ${e.getMessage}")
  }

  test("SvecDot: two-pointer sparse dot (svec_dot semantics)") {
    val r = spark.sql(
      """SELECT
           svec_dot(array(struct(1, 2.0D), struct(3, 4.0D), struct(7, 1.0D)),
                    array(struct(3, 10.0D), struct(5, 9.0D), struct(7, 2.0D))) AS d,
           svec_dot(array(struct(1, 2.0D)), array(struct(2, 3.0D))) AS disjoint,
           svec_dot(array(struct(1, 2.0D)), CAST(array() AS ARRAY<STRUCT<i:INT,v:DOUBLE>>)) AS empty
      """).head()
    assert(r.getDouble(0) == 42.0)  // 4*10 + 1*2
    assert(r.getDouble(1) == 0.0 && r.getDouble(2) == 0.0)
    // sparse dot ≡ dense dot on co-indexed entries, property-checked
    val dense = spark.sql(
      """SELECT svec_dot(
           transform(sequence(0, 19), i -> struct(CAST(i AS INT), CAST(i * 3 % 7 AS DOUBLE))),
           transform(sequence(0, 19), i -> struct(CAST(i AS INT), CAST(i * 5 % 11 AS DOUBLE)))) AS s,
         aggregate(zip_with(
           transform(sequence(0, 19), i -> CAST(i * 3 % 7 AS DOUBLE)),
           transform(sequence(0, 19), i -> CAST(i * 5 % 11 AS DOUBLE)),
           (x, y) -> x * y), 0D, (a, x) -> a + x) AS d""").head()
    assert(dense.getDouble(0) == dense.getDouble(1))
  }

  test("PgSimilarTo: SQL-regex dialect translation (similar_to_escape cases)") {
    import graft.functions.PgSimilarTo.toRegex
    assert(toRegex("abc%") == "^(?:abc.*)$")
    assert(toRegex("a_c") == "^(?:a.c)$")
    assert(toRegex("a.b") == "^(?:a\\.b)$")          // dot is LITERAL in SQL regex
    assert(toRegex("(1|2)-%") == "^(?:(1|2)-.*)$")   // alternation passes through
    assert("100%".matches(toRegex("100\\%")))     // escaped wildcard is literal
    assert(!"100x".matches(toRegex("100\\%")))
    assert("3.14".matches(toRegex("3.1_")))       // literal dot actually matches a dot
    assert(!"3x14".matches(toRegex("3.1_")))
    // top-level alternation stays anchored (regexp.c wraps in (?:...)):
    // 'a|b' matches exactly 'a' or 'b', never 'abc'/'xb'
    assert("a".matches(toRegex("a|b")) && "b".matches(toRegex("a|b")))
    assert(!"abc".matches(toRegex("a|b")) && !"xb".matches(toRegex("a|b")))
    // bracket-expression contents pass through VERBATIM (incharclass):
    // '%'/'_' are ordinary members, '[^...]' keeps its negation
    assert("%".matches(toRegex("[%_]")) && "_".matches(toRegex("[%_]")))
    assert(!"x".matches(toRegex("[%_]")))
    assert("d".matches(toRegex("[^abc]")) && !"a".matches(toRegex("[^abc]")))
    // '.' inside a class is a literal member; '%' outside still expands
    assert("a.b".matches(toRegex("a[.]b%")) && !"axb".matches(toRegex("a[.]b")))
  }

  test("PgToChar numeric templates (formatting.c cases)") {
    assert(PgToChar.format(1234.5, "0000000000.00") == " 0000001234.50")
    assert(PgToChar.format(1234.5, "FM9999999990.00") == "1234.50")
    assert(PgToChar.format(-42.125, "FM990.00") == "-42.13") // half-up
    assert(PgToChar.format(0.0, "FM0.00") == "0.00")
    assert(PgToChar.format(1234567.0, "9,999,999") == " 1,234,567")
    assert(PgToChar.format(1234.0, "99") == " ##") // overflow → hashes
  }

  test("PgToNumber parses templates and round-trips PgToChar output") {
    import graft.functions.PgToNumber
    assert(PgToNumber.parse("1,234.56", "9G999D99") == 1234.56)
    assert(PgToNumber.parse("$1,234.56", "L9G999D99") == 1234.56)
    assert(PgToNumber.parse("-1,234.56", "S9G999D99") == -1234.56)
    assert(PgToNumber.parse("1,234.56-", "9G999D99MI") == -1234.56)
    assert(PgToNumber.parse("  42", "999") == 42.0)
    assert(PgToNumber.parse(".50", "D99") == 0.5)
    assert(PgToNumber.parse("no digits", "999") == null)
    // round trip through the output half
    val txt = PgToChar.format(9876543.21, "FM9,999,999.00")
    assert(PgToNumber.parse(txt, "9G999G999D99") == 9876543.21)
  }

  test("PgToCharTs datetime templates") {
    // 1997-03-02 14:05:09 UTC
    val micros = java.time.LocalDateTime.of(1997, 3, 2, 14, 5, 9)
      .toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(PgToCharTs.format(micros, "YYYY-MM-DD HH24:MI:SS") == "1997-03-02 14:05:09")
    assert(PgToCharTs.format(micros, "Dy DD Mon YYYY") == "Sun 02 Mar 1997")
    assert(PgToCharTs.format(micros, "Q") == "1")
    assert(PgToCharTs.format(micros, "DDD") == "061")
    assert(PgToCharTs.format(micros, "HH12 AM") == "02 PM")
  }

  test("pg_age borrows calendar-correctly across month ends") {
    import graft.functions.PgAge
    def age(a: String, b: String): (Int, Int, Int) = {
      def micros(s: String) =
        java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      val r = PgAge.unpack(PgAge.agePacked(micros(a), micros(b)))
      (r.getInt(0), r.getInt(1), r.getInt(2))
    }
    assert(age("2000-03-13T00:00:00", "1998-12-31T00:00:00") == ((1, 2, 13)))
    assert(age("1998-12-31T00:00:00", "2000-03-13T00:00:00") == ((-1, -2, -13)))
    assert(age("2000-03-01T00:00:00", "2000-01-31T00:00:00") == ((0, 1, 1)))
    assert(age("2000-01-01T00:00:00", "2000-01-01T00:00:00") == ((0, 0, 0)))
  }

  test("runtime bloom filter injects below the probe scan (nodeRuntimeFilter.c)") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val li = Tables.df(spark, Sf, "lineitem")
      val filteredOrders = Tables.df(spark, Sf, "orders")
        .filter(col("o_totalprice") > 400000.0)
      val joined = li.join(filteredOrders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan
      val probes = optimized.collect { case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.collect {
          case m: org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain => m
        }
      }.flatten
      assert(probes.exists(_.valueExpression.references.exists(_.name == "l_orderkey")),
        s"expected a runtime bloom filter on the lineitem probe side in the optimized plan:\n$optimized")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("UDF registration passthrough (CREATE FUNCTION surface)") {
    spark.udf.register("graft_cents", (d: Double) => math.round(d * 100))
    Tables.register(spark, Sf)
    val r = spark.sql(
      "SELECT graft_cents(o_totalprice) AS c, CAST(round(o_totalprice * 100) AS BIGINT) AS e FROM orders")
    assert(r.filter(col("c") =!= col("e")).count() == 0)
  }

  test("q66 tids are dense, zero-based, unique (ctid semantics)") {
    val df = SparkEntry.queries("q66_tid_scan")(spark, Sf)
    val tids = df.select("tid").collect().map(_.getLong(0))
    assert(tids.toSeq == (0L until 100L))
    // the q66 oracle's layout invariant: documents is one parquet file
    // written in doc_id order, so physical position == rank(doc_id) − 1
    // (here doc_id itself). If the generator ever changes the layout this
    // fails loudly instead of silently shifting the oracle.
    val mism = df.filter(org.apache.spark.sql.functions.col("tid") =!=
      org.apache.spark.sql.functions.col("doc_id")).count()
    assert(mism == 0, "documents layout invariant broken: tid != doc_id")
  }

  test("q62: native TABLESAMPLE (SampleExec) draws ~the Bernoulli fraction") {
    // the oracle-checked q62 uses the content-keyed coin; the native
    // position-keyed sampler stays exercised here (nodeSamplescan.c's
    // PRNG path): plan contains Sample and the draw is within ±4σ
    val df = Tables.df(spark, Sf, "orders").sample(withReplacement = false, 0.1, seed = 42)
    val plan = df.queryExecution.executedPlan
    assert(PlanDump.nodes(plan).exists(_.isInstanceOf[org.apache.spark.sql.execution.SampleExec]),
      s"native .sample must plan a Sample node:\n$plan")
    val n = df.count().toDouble
    val total = Tables.df(spark, Sf, "orders").count().toDouble
    val sigma = math.sqrt(total * 0.1 * 0.9)
    assert(math.abs(n - total * 0.1) < 4 * sigma,
      s"sample of $total drew $n rows — outside 10% ± 4σ")
  }

  test("french_stem follows the published Snowball French rule table") {
    import graft.functions.FrenchStem.stem
    // one vector per rule family: step-1 standard suffixes (eaux→eau,
    // aux→al, logie, ence→ent, amment/emment, ité/if/ive, euse),
    // steps 2a/2b verb suffixes (iss-, er/é/ait/ant), step-3 marker
    // tidy-up (essayer→essaY+er→essai — the documented Y case), step-4
    // residual (ion after s/t, final e/s, guë), step-5 undouble
    // (ancienne→ancien), step-6 un-accent (différence→différent carries
    // è→e), prelude marking (yeux unchanged, essayer's y→Y)
    val vectors = Seq(
      "bateaux" -> "bateau", "journaux" -> "journal",
      "biologie" -> "biolog", "biologies" -> "biolog",
      "confusion" -> "confus", "solution" -> "solut",
      "différence" -> "différent", "références" -> "référent",
      "ancienne" -> "ancien", "bonne" -> "bon", "belle" -> "bel",
      "nette" -> "net", "appelle" -> "appel", "veille" -> "veil",
      "jouer" -> "jou", "joué" -> "jou", "jouait" -> "jou",
      "jouant" -> "jou", "finissait" -> "fin", "finissant" -> "fin",
      "finir" -> "fin", "finis" -> "fin",
      "importance" -> "import", "importantes" -> "import",
      "évidemment" -> "évident", "abondamment" -> "abond",
      "activité" -> "activ", "active" -> "activ",
      "rapidement" -> "rapid", "rapidité" -> "rapid",
      "nationale" -> "national", "nationaux" -> "national",
      "continuer" -> "continu", "continuation" -> "continu",
      "continuaient" -> "continu", "habitaient" -> "habit",
      "habitants" -> "habit", "majestueusement" -> "majestu",
      "grandes" -> "grand", "essayer" -> "essai", "yeux" -> "yeux",
      "aiguë" -> "aigu", "près" -> "pres", "célèbre" -> "célebr",
      "travaux" -> "traval")
    for ((w, s) <- vectors) assert(stem(w) == s, s"$w: got ${stem(w)}, want $s")
    // inflection families collapse to a shared stem
    assert(Seq("mangeait", "manger", "mangea", "mangerons").map(stem).distinct.size == 1)
    assert(Seq("continue", "continuera", "continuer", "continuation").map(stem).distinct.size == 1)
  }

  test("FTS config registry: language resolved as data; frozen dictionaries are current") {
    import graft.operators.FullText.{FtsConfig, FrenchCorpus, RussianCorpus,
      FrozenFrenchDict, FrozenRussianDict}
    // the same pipeline parameterizes over every config: stopwords and
    // stemmer come from the config VALUE, never from code branches
    val probes = Map(
      "english" -> ("merging", "merge"),
      "french" -> ("continuait", "continuer"),
      "russian" -> ("работает", "работать"))
    for ((lang, (infl, base)) <- probes) {
      val cfg = FtsConfig(lang)
      assert(cfg.stopwords.nonEmpty && cfg.stemFn.nonEmpty)
      // a language-specific inflection collapses under ITS config only
      assert(cfg.stem(infl) == cfg.stem(base),
        s"$lang config must collapse $infl with $base")
    }
    // distinct languages resolve DIFFERENT stemmers through the same API
    assert(FtsConfig("english").stem("continuait") !=
      FtsConfig("french").stem("continuait"))
    intercept[IllegalArgumentException](FtsConfig("klingon"))
    // the frozen oracle dictionaries must match a fresh derivation — a
    // stemmer change shows up here before the driver compare sees it
    def derive(lang: String, corpus: Seq[(Long, String)]): String = {
      val cfg = FtsConfig(lang)
      corpus.flatMap(_._2.split(" "))
        .filterNot(cfg.stopwords.contains).distinct.sorted
        .map(w => s"('$w', '${cfg.stem(w)}')").mkString(",\n          ")
    }
    assert(derive("french", FrenchCorpus) == FrozenFrenchDict,
      "FrenchStem drifted from the frozen f17 dictionary — regenerate it deliberately")
    assert(derive("russian", RussianCorpus) == FrozenRussianDict,
      "RussianStem drifted from the frozen f18 dictionary — regenerate it deliberately")
  }

  test("FTS config registry: synonym dictionary chains as data (dict_xsyn)") {
    import graft.operators.FullText.FtsConfig
    // deriving a config with a synonym chain is a config-VALUE change;
    // the pipeline expression and query lexize come from the same value
    val cfg = FtsConfig("english").withSynonyms(Seq(
      "fast" -> Seq("fast", "quick", "rapid"),
      "sort" -> Seq("sort", "order")))
    // query side: rule keys expand (matchorig), plain terms stem
    assert(cfg.queryLex("fast") == Seq("fast", "quick", "rapid"))
    assert(cfg.queryLex("quick") == Seq("quick")) // matchsynonyms=false
    assert(cfg.queryLex("merging") == Seq("merg")) // falls through to porter
    // corpus side: the generated chain — matched tokens emit their
    // lexeme list UNSTEMMED, unmatched tokens stem; stopwords drop first
    import spark.implicits._
    val lex = Seq((1L, "the fast merging sort")).toDF("doc_id", "text")
      .selectExpr(s"${cfg.lexExpr("split(text, ' ')")} AS lex")
      .collect().head.getSeq[String](0)
    assert(lex == Seq("fast", "quick", "rapid", "merg", "sort", "order"),
      s"got $lex")
    // a synonym-free config generates the exact classic pipeline text
    assert(!FtsConfig("english").lexExpr("toks").contains("CASE"))
  }

  test("FTS config registry: integer dictionary chains as data (dict_int)") {
    import graft.operators.FullText.FtsConfig
    import graft.operators.FullText.FtsConfig.IntDict
    import spark.implicits._
    def lexOf(cfg: FtsConfig.TsConfig, text: String): Seq[String] =
      Seq((1L, text)).toDF("doc_id", "text")
        .selectExpr(s"${cfg.lexExpr("split(text, ' ')")} AS lex")
        .collect().head.getSeq[String](0)
    // defaults (dintdict_init): maxlen 6, truncate, keep sign
    val d = FtsConfig("english").withIntDict(IntDict())
    assert(lexOf(d, "code 12345678 ok 123") == Seq("code", "123456", "ok", "123"))
    // absval strips the sign BEFORE the length check
    val a = FtsConfig("english").withIntDict(IntDict(absval = true))
    assert(lexOf(a, "-1234567 +42") == Seq("123456", "42"))
    // rejectlong drops the token instead of trimming
    val r = FtsConfig("english").withIntDict(IntDict(rejectlong = true))
    assert(lexOf(r, "keep 123 drop 12345678") == Seq("keep", "123", "drop"))
    // the word chain is untouched: words still stem, stopwords drop
    assert(lexOf(d, "the merging 99") == Seq("merg", "99"))
    // query-side lexize mirrors the chain; maxlen guard is loud
    assert(d.queryLex("12345678") == Seq("123456"))
    assert(r.queryLex("12345678") == Seq.empty)
    assert(d.queryLex("merging") == Seq("merg"))
    intercept[IllegalArgumentException](IntDict(maxlen = 0))
  }

  test("jump_hash: consistent-hash contract (range, monotone moves, balance)") {
    import graft.functions.JumpHash.compute
    val keys = (1L to 20000L).map(_ * 2654435761L) // spread keys
    for (n <- Seq(1, 2, 16, 24, 100)) {
      val segs = keys.map(compute(_, n))
      assert(segs.forall(s => s >= 0 && s < n), s"out of range for n=$n")
      if (n == 1) assert(segs.forall(_ == 0))
    }
    // THE consistent-hash property (what gpexpand relies on): growing
    // n→m moves a key iff its m-bucket is new, and placements for the
    // surviving buckets are unchanged
    for ((n, m) <- Seq((16, 24), (24, 25), (2, 16))) {
      keys.foreach { k =>
        val a = compute(k, n); val b = compute(k, m)
        assert((a != b) == (b >= n), s"key $k: $n->$m moved $a->$b")
      }
      // expected moved fraction is (m-n)/m; allow wide tolerance
      val moved = keys.count(k => compute(k, n) != compute(k, m)).toDouble / keys.size
      val want = (m - n).toDouble / m
      assert(math.abs(moved - want) < 0.05, s"$n->$m moved $moved, want ~$want")
    }
    // balance: max/min segment load within 3x at 20k keys over 24 segs
    val loads = keys.groupBy(compute(_, 24)).values.map(_.size)
    assert(loads.size == 24 && loads.max < 3 * loads.min,
      s"imbalanced: ${loads.toSeq.sorted}")
    // deterministic: same input, same output (pure function of (k, n))
    assert(compute(123456789L, 24) == compute(123456789L, 24))
  }

  test("russian_stem follows the published Snowball Russian rule table") {
    import graft.functions.RussianStem.stem
    // one vector per rule family: step-1 noun endings (а/и/у/ь/ия/ии/
    // ом/ах), adjective (ый/ая/ые/их/ой), verb groups 1 and 2 (ть/ет/
    // ли/л after а; ить/ит/или), perfective gerund (в after а, вшись),
    // reflexive (ся/сь), step-2 и, step-3 derivational ость in R2,
    // step-4 tidy (нн undouble, superlative ейш, trailing ь), ё→е
    val vectors = Seq(
      "книга" -> "книг", "книги" -> "книг", "книгу" -> "книг",
      "красивый" -> "красив", "красивая" -> "красив",
      "красивые" -> "красив", "красивых" -> "красив",
      "работать" -> "работа", "работает" -> "работа",
      "работали" -> "работа", "работал" -> "работа",
      "говорить" -> "говор", "говорит" -> "говор",
      "возможность" -> "возможн", "важность" -> "важност",
      "весенний" -> "весен", "новейший" -> "нов",
      "сделав" -> "сдела", "учиться" -> "уч", "учились" -> "уч",
      "жизнь" -> "жизн", "деревня" -> "деревн",
      "россия" -> "росс", "россии" -> "росс",
      "нация" -> "нац", "нации" -> "нац",
      "медленно" -> "медлен", "быстрее" -> "быстр",
      "городах" -> "город", "люди" -> "люд",
      // spot-checks against the published Snowball Russian sample
      // vocabulary (r11 advice: pin vectors that do NOT come from this
      // implementation's own frozen dictionary)
      "авиация" -> "авиац", "автомобиля" -> "автомобил",
      "агентство" -> "агентств")
    for ((w, s) <- vectors) assert(stem(w) == s, s"$w: got ${stem(w)}, want $s")
    // inflection families collapse to a shared stem
    assert(Seq("работать", "работает", "работали", "работал")
      .map(stem).distinct.size == 1)
    assert(Seq("книга", "книги", "книгу").map(stem).distinct.size == 1)
  }

  test("metaphone follows the PG variant of Philips' algorithm") {
    import graft.functions.Metaphone.code
    // each vector hand-audited against fuzzystrmatch.c:345 _metaphone
    // (USE_TRADITIONAL_METAPHONE undefined — the shipped behavior)
    val vectors = Seq(
      // initial-letter special cases (fuzzystrmatch.c:388)
      "aebersold" -> "EBRS", // AE → E
      "gnome" -> "NM", // GN → N
      "knight" -> "NFT", // KN → N; GH → F (3-back 'K' is not in BDH)
      "pneumonia" -> "NMN", // PN → N
      "wham" -> "HM", // WH → H
      "wrack" -> "RK", // WR → R
      "water" -> "WTR", // W + vowel keeps W (and consumes the vowel)
      "xavier" -> "SFR", // initial X → S
      "ox" -> "OKS", // initial vowel kept; X → KS
      // consonant ladder
      "thompson" -> "0MPS", // TH → '0'
      "widget" -> "WJT", // DG[E] → J
      "school" -> "SKL", // SCH stays hard K (the PG departure)
      "christmas" -> "KRST", // CHR stays hard K
      "cia" -> "X", // CIA → SH
      "science" -> "SNS", // SC[IEY]: C dropped
      "nation" -> "NXN", // TIO → SH
      "mission" -> "MSN", // dup-S dropped BEFORE the SIO check fires
      "vision" -> "FXN", // SIO → SH (single S)
      "phone" -> "FN", // PH → F
      "laugh" -> "LF", // -GH → F (lookback A not in BDH)
      "high" -> "HF", // GH → F (3-back off-start, not the -H--GH case)
      "sign" -> "SN", // GN (word end) dropped
      "signed" -> "SNT", // GNED: G dropped
      "lamb" -> "LM", // B silent after M
      "back" -> "BK", // K after C dropped (CK → K)
      "quick" -> "KK", // Q → K
      "vivid" -> "FFT", // V → F
      "zebra" -> "SBR", // Z → S
      "yellow" -> "YL", // Y + vowel kept
      "boy" -> "B", // trailing Y dropped
      "accept" -> "AKSP", // CC kept (dup rule exempts C): A,K,S,P
      "bubble" -> "BBL") // raw-letter dup drop: B,U,B… second B kept (prev=U)
    for ((w, c) <- vectors)
      assert(code(w, 4) == c, s"$w: got ${code(w, 4)}, want $c")
    // maxLen truncation and case/non-alpha handling
    assert(code("Thompson", 2) == "0M")
    assert(code("  42 ", 4) == "")
    assert(code("o'brien", 4) == "OBRN")
    // registration arity guard: metaphone(word) alone is a loud,
    // descriptive error, not a raw IndexOutOfBounds (r12 advice)
    val ex = intercept[IllegalArgumentException] {
      graft.functions.PgFunctions.builders.toMap.apply("metaphone")(
        Seq(org.apache.spark.sql.catalyst.expressions.Literal("x")))
    }
    assert(ex.getMessage.contains("takes 2 arguments"))
  }

  test("pgp_sym: AES-CFB128 pinned to NIST SP 800-38A + FIPS-197; round trip; quick check") {
    import graft.functions.PgpSym
    def hx(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    def unhx(s: String) = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val key = unhx("2b7e151628aed2a6abf7158809cf4f3c")
    val iv = unhx("000102030405060708090a0b0c0d0e0f")
    // SP 800-38A F.3.13 CFB128-AES128.Encrypt, all four segments chained
    val pt = unhx("6bc1bee22e409f96e93d7e117393172a" +
      "ae2d8a571e03ac9c9eb76fac45af8e51" +
      "30c81c46a35ce411e5fbc1191a0a52ef" +
      "f69f2445df4f9b17ad2b417be66c3710")
    assert(hx(PgpSym.cfb128Encrypt(key, iv, pt)) ==
      "3b3fd92eb72dad20333449f8e83cfb4a" +
      "c8a64537a0b3a93fcde3cdad9f1ce58b" +
      "26751f67a3cbb140b1808cf187a4f4df" +
      "c04b05357c5d1c0eeac4c66f9ff7f2e6")
    // FIPS-197 appendix C.1 single-block pin: CFB of a zero block makes
    // the ciphertext the raw AES encryption of the IV
    assert(hx(PgpSym.cfb128Encrypt(
      unhx("000102030405060708090a0b0c0d0e0f"),
      unhx("00112233445566778899aabbccddeeff"),
      new Array[Byte](16))) == "69c4e0d86a7b0430d8cdb78070b4c55a")
    // S2K: deterministic, 16 bytes, salt- and pass-sensitive
    val s1 = PgpSym.s2k("passphrase".getBytes("UTF-8"), PgpSym.QuerySalt)
    assert(s1.length == 16 && s1.sameElements(
      PgpSym.s2k("passphrase".getBytes("UTF-8"), PgpSym.QuerySalt)))
    assert(!s1.sameElements(PgpSym.s2k("other".getBytes("UTF-8"), PgpSym.QuerySalt)))
    assert(!s1.sameElements(PgpSym.s2k("passphrase".getBytes("UTF-8"),
      unhx("0001020304050607"))))
    // round trip incl. empty / non-ASCII / longer-than-block texts
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    for (t <- Seq("", "a", "héllo wörld", "x" * 1000)) {
      val ct = PgpSym.encrypt(u(t), u("k3y"))
      assert(ct.length == PgpSym.Overhead + t.getBytes("UTF-8").length)
      assert(PgpSym.decrypt(ct, u("k3y")).toString == t)
      assert(!PgpSym.decryptOk(ct, u("wrong")))
    }
    // corrupt prefix rejects loudly (pgp-decrypt.c "corrupt prefix")
    val ct = PgpSym.encrypt(u("secret"), u("k3y"))
    ct(PgpSym.SaltLen + 3) = (ct(PgpSym.SaltLen + 3) ^ 0x40).toByte
    assert(!PgpSym.decryptOk(ct, u("k3y")))
    intercept[IllegalArgumentException] { PgpSym.decrypt(ct, u("k3y")) }
    // payload corruption past the prefix does NOT trip the quick check —
    // the honest non-MDC contract (pgcrypto without pgp_sym_encrypt's
    // MDC packet behaves the same): decrypt succeeds, text differs
    val ct2 = PgpSym.encrypt(u("secret"), u("k3y"))
    ct2(ct2.length - 1) = (ct2(ct2.length - 1) ^ 0x01).toByte
    assert(PgpSym.decryptOk(ct2, u("k3y")) &&
      PgpSym.decrypt(ct2, u("k3y")).toString != "secret")
    // pgp_sym_encrypt_det is a true alias: same expression, byte-equal
    // output — and the determinism the name advertises is real
    val det = spark.sql(
      """SELECT pgp_sym_encrypt('pii', 'k') AS a,
                pgp_sym_encrypt_det('pii', 'k') AS b,
                pgp_sym_encrypt('pii', 'k') AS c""").head()
    assert(java.util.Arrays.equals(det.getAs[Array[Byte]]("a"), det.getAs[Array[Byte]]("b")))
    assert(java.util.Arrays.equals(det.getAs[Array[Byte]]("a"), det.getAs[Array[Byte]]("c")))
  }

  test("daitch_mokotoff matches the PG regression vectors") {
    import graft.functions.DaitchMokotoff.code
    // contrib/fuzzystrmatch/expected/fuzzystrmatch{,_utf8}.out — the
    // reference's own regression set (codes compared as SETS; PG's
    // array order is accumulation order, ours is sorted)
    val vectors = Seq(
      "Augsburg" -> Set("054795"), "Breuer" -> Set("791900"),
      "Freud" -> Set("793000"), "Halberstadt" -> Set("587943", "587433"),
      "Mannheim" -> Set("665600"),
      "Chernowitz" -> Set("596740", "496740"),
      "Cherkassy" -> Set("595400", "495400"),
      "Kleinman" -> Set("586660"), "Nowy Targ" -> Set("673950"),
      "Berlin" -> Set("798600"), "Ceniow" -> Set("567000", "467000"),
      "Tsenyuv" -> Set("467000"), "Holubica" -> Set("587500", "587400"),
      "Golubitsa" -> Set("587400"),
      "Przemysl" -> Set("794648", "746480"), "Pshemeshil" -> Set("746480"),
      "Rosochowaciec" -> Set("945755", "945754", "945745", "945744",
        "944755", "944754", "944745", "944744"),
      "Rosokhovatsets" -> Set("945744"),
      "'OBrien" -> Set("079600"), "O'Brien" -> Set("079600"),
      "CJC" -> Set("550000", "540000", "545000", "450000", "400000", "440000"),
      "BESST" -> Set("743000"), // adjacent-code collapse across double digits
      "BOUEY" -> Set("710000"), // the unofficial UE rule
      "HANNMANN" -> Set("566600"),
      "MCCOYJR" -> Set("651900", "654900", "654190", "654490",
        "645190", "645490", "641900", "644900"),
      "ACCURSO" -> Set("059400", "054000", "054940", "054400",
        "045940", "045400", "049400", "044000"),
      "BIERSCHBACH" -> Set("794575", "794574", "794750", "794740",
        "745750", "745740", "747500", "747400"),
      // accent folds + the Ą/Ę/Ţ substitute slots (…_utf8.out)
      "Müller" -> Set("689000"), "Schäfer" -> Set("479000"),
      "Straßburg" -> Set("294795"), "Éregon" -> Set("095600"),
      "gąszczu" -> Set("564000", "540000"),
      "brzęczy" -> Set("794640", "794400", "746400", "744000"),
      "ţamas" -> Set("364000", "464000"), "țamas" -> Set("364000", "464000"))
    for ((w, cs) <- vectors)
      assert(code(w).toSet == cs, s"$w: got ${code(w)}")
    // vowel-separated identical codes must NOT collapse
    assert(code("BOB") == Seq("770000"))
    assert(code("123") == Seq.empty) // nothing codable
  }

  test("porter_stem matches the published 1980 algorithm examples") {
    import graft.functions.PorterStem.stem
    // step examples from the paper, carried through the full algorithm,
    // plus the paper's own end-to-end demonstrations (GENERALIZATIONS →
    // GENER, OSCILLATORS → OSCIL). Words touched by porter.c's later
    // "departures" (logi/bli) are deliberately absent — this is the
    // strict 1980 algorithm.
    val vectors = Seq(
      "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
      "caress" -> "caress", "cats" -> "cat",
      "feed" -> "feed", "agreed" -> "agre", "plastered" -> "plaster",
      "bled" -> "bled", "motoring" -> "motor", "sing" -> "sing",
      "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
      "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
      "hissing" -> "hiss", "fizzed" -> "fizz", "failing" -> "fail",
      "filing" -> "file", "happy" -> "happi", "sky" -> "sky",
      "relational" -> "relat", "conditional" -> "condit",
      "rational" -> "ration", "valenci" -> "valenc", "digitizer" -> "digit",
      "operational" -> "oper", "feudalism" -> "feudal",
      "decisiveness" -> "decis", "hopefulness" -> "hope",
      "callousness" -> "callous", "formaliti" -> "formal",
      "sensitiviti" -> "sensit", "sensibiliti" -> "sensibl",
      "triplicate" -> "triplic", "formative" -> "form",
      "formalize" -> "formal", "electriciti" -> "electr",
      "electrical" -> "electr", "hopeful" -> "hope", "goodness" -> "good",
      "revival" -> "reviv", "allowance" -> "allow", "inference" -> "infer",
      "airliner" -> "airlin", "gyroscopic" -> "gyroscop",
      "adjustable" -> "adjust", "defensible" -> "defens",
      "irritant" -> "irrit", "replacement" -> "replac",
      "adjustment" -> "adjust", "dependent" -> "depend",
      "adoption" -> "adopt", "communism" -> "commun",
      "activate" -> "activ", "angulariti" -> "angular",
      "effective" -> "effect", "bowdlerize" -> "bowdler",
      "probate" -> "probat", "rate" -> "rate", "cease" -> "ceas",
      "controll" -> "control", "roll" -> "roll",
      "generalizations" -> "gener", "oscillators" -> "oscil")
    val bad = vectors.collect {
      case (w, want) if stem(w) != want => s"$w: got ${stem(w)}, want $want"
    }
    assert(bad.isEmpty, bad.mkString("; "))
    // idempotence over the vector outputs (a stem is its own stem for
    // this set — the property the f14 dictionary join relies on)
    val notIdem = vectors.map(_._2).filter(st => stem(stem(st)) != stem(st))
    assert(notIdem.isEmpty, s"non-idempotent: $notIdem")
  }

  test("to_char RN/EEEE match PG's documented renderings (formatting.c:905)") {
    import graft.functions.PgToChar.format
    // PG doc examples + boundary semantics
    assert(format(0.0004859, "9.99EEEE") == " 4.86e-04")
    assert(format(485, "RN") == "        CDLXXXV")
    assert(format(485, "FMRN") == "CDLXXXV")
    assert(format(2024, "FMRN") == "MMXXIV")
    assert(format(3999, "FMRN") == "MMMCMXCIX")
    assert(format(4000, "RN") == "###############") // out of roman range
    assert(format(0.0, "9.99EEEE") == " 0.00e+00")
    assert(format(-1234, "9.99EEEE") == "-1.23e+03")
    assert(format(9.995, "9.99EEEE") == " 1.00e+01") // mantissa carry
  }

  test("hmacSha256 matches the RFC 4231 test vectors (pgcrypto px-hmac.c)") {
    import graft.functions.PgCrypto
    def run(c: org.apache.spark.sql.Column): String =
      spark.range(1).select(c.as("h")).head().getString(0)
    // case 1: 20-byte 0x0b key
    assert(run(PgCrypto.hmacSha256(lit("Hi There"), Array.fill(20)(0x0b.toByte)))
      == "b0344c61d8db38535ca8afceaf0bf12b881dc200c9833da726e9376c2e32cff7")
    // case 2: short ASCII key
    assert(run(PgCrypto.hmacSha256(lit("what do ya want for nothing?"), "Jefe"))
      == "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843")
    // case 3: binary 0xdd×50 message, 0xaa×20 key
    assert(run(PgCrypto.hmacSha256(unhex(lit("dd" * 50)), Array.fill(20)(0xaa.toByte)))
      == "773ea91e36800e46854db8ebd09181a72959098b3ef8c122d9635514ced565fe")
    // case 6: 131-byte key > block size — key is pre-hashed (hmac_init)
    assert(run(PgCrypto.hmacSha256(
      lit("Test Using Larger Than Block-Size Key - Hash Key First"),
      Array.fill(131)(0xaa.toByte)))
      == "60e431591ee0b67f0d8a26aacbf5b77f8e0bc6213728c5140546040f0ee37f54")
  }

  test("pg_format: positional refs move the shared arg cursor; %0$ rejected (review r8)") {
    // PG: a non-positional specifier uses the next argument AFTER the
    // last consumed — '%3$s %s' over (a,b,c,d) is 'c d', never 'c a'
    val r = spark.sql(
      "SELECT pg_format('%3$s %s', 'a', 'b', 'c', 'd') AS mixed").head.getString(0)
    assert(r == "c d", s"mixed positional/sequential gave '$r'")
    intercept[Exception] {
      spark.sql("SELECT pg_format('%0$s', 'x')").collect()
    }
    // sequential past a positional that rewound: '%2$s %s %s' = 'b c a'? no —
    // cursor after %2$s is arg3, then arg4 would overflow with 3 args
    intercept[Exception] {
      spark.sql("SELECT pg_format('%3$s %s', 'a', 'b', 'c')").collect()
    }
  }

  test("t19 survives documents shorter than the 5-gram window (review r8; r13 kernel)") {
    // The gram build must emit zero grams for a <5-token doc, not crash
    // (originally a sequence(1,0)-descends trap in the lambda form; now
    // word_grams31's emptyOnShort=true contract, pinned here). A repeated
    // token must yield equal gram ids (the dup census's equality).
    import spark.implicits._
    Seq((1L, "a b c"), (2L, "one two three four five six six six six six six"),
      (3L, "")).toDF("doc_id", "text")
      .createOrReplaceTempView("t19_short_docs")
    val grams = spark.sql("""
      SELECT doc_id, word_grams31(text, 5, true) AS grams
      FROM t19_short_docs""").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(grams.view.mapValues(_.length).toMap == Map(1L -> 0, 2L -> 7, 3L -> 0))
    // positions 5 and 6 are both "six six six six six" — identical ids
    assert(grams(2L)(5) == grams(2L)(6))
    assert(grams(2L)(0) != grams(2L)(5))
  }

  test("pg_to_timestamp parses the formatting.c template subset (do_to_timestamp)") {
    import graft.functions.PgToTimestamp.parse
    def micros(s: String) =
      java.time.LocalDateTime.parse(s).toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
    assert(parse("03/15/1995", "MM/DD/YYYY") == micros("1995-03-15T00:00:00"))
    assert(parse("Mar 15, 1995", "Mon DD, YYYY") == micros("1995-03-15T00:00:00"))
    assert(parse("MAR 15, 1995", "Mon DD, YYYY") == micros("1995-03-15T00:00:00"),
      "month-name match is case-insensitive (from_char_seq_search)")
    assert(parse("02/29/1996 23:59:58", "MM/DD/YYYY HH24:MI:SS")
      == micros("1996-02-29T23:59:58"), "leap day")
    // YY nearest-century rule (DCH_YY): <70 → 20xx, 70–99 → 19xx
    assert(parse("12/31/99", "MM/DD/YY") == micros("1999-12-31T00:00:00"))
    assert(parse("06/15/69", "MM/DD/YY") == micros("2069-06-15T00:00:00"))
    // 12-hour clock: 12 AM = 00h, 12 PM = 12h, 01 PM = 13h
    assert(parse("12:30 AM", "HH12:MI AM") == micros("1970-01-01T00:30:00"))
    assert(parse("12:30 PM", "HH12:MI PM") == micros("1970-01-01T12:30:00"))
    assert(parse("01:05 pm", "HH12:MI AM") == micros("1970-01-01T13:05:00"))
    intercept[IllegalArgumentException](parse("Foo 15, 1995", "Mon DD, YYYY"))
    intercept[IllegalArgumentException](parse("03-15-1995", "MM/DD/YYYY"))
  }

  test("pair_emit_sized length-prunes and carries sizes (PPJoin length filter)") {
    import spark.implicits._
    // sizes 5,5,11: (5,5) keeps (equal), both (5,11) prune (11 > 2·5)
    val rows = Seq((1L, Seq((10L, 5L), (20L, 5L), (30L, 11L))))
      .toDF("lid", "dsz")
      .select(expr("CAST(dsz AS array<struct<doc:bigint,sz:bigint>>)").as("dsz"))
      .select(explode(expr("pair_emit_sized(dsz, 50)")).as("p"))
      .select("p.a_id", "p.b_id", "p.a_sz", "p.b_sz").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
      == Seq((10L, 20L, 5L, 5L)))
    // boundary: max = 2·min is KEPT (jaccard can be exactly 0.5)
    val edge = Seq((1L, Seq((1L, 5L), (2L, 10L)))).toDF("lid", "dsz")
      .select(expr("CAST(dsz AS array<struct<doc:bigint,sz:bigint>>)").as("dsz"))
      .select(explode(expr("pair_emit_sized(dsz, 50)")).as("p")).count()
    assert(edge == 1L)
    // star branch past cap: hub pairs, still pruned by ratio
    val star = Seq((1L, Seq((1L, 4L), (2L, 4L), (3L, 4L), (4L, 9L))))
      .toDF("lid", "dsz")
      .select(expr("CAST(dsz AS array<struct<doc:bigint,sz:bigint>>)").as("dsz"))
      .select(explode(expr("pair_emit_sized(dsz, 3)")).as("p"))
      .select("p.b_id").collect().map(_.getLong(0)).toSeq
    assert(star == Seq(2L, 3L), "hub links to in-ratio members only")
  }

  test("u01 uuid3 construction ≡ java.util.UUID.nameUUIDFromBytes (RFC 4122 v3)") {
    val rows = SparkEntry.queries("u01_uuid_v3")(spark, Sf)
      .limit(20).collect()
    rows.foreach { r =>
      val expected = java.util.UUID.nameUUIDFromBytes(
        s"graft-ns:doc-${r.getLong(0)}".getBytes("UTF-8")).toString
      assert(r.getString(1) == expected, s"doc ${r.getLong(0)}")
    }
  }

  test("f12 websearch grammar: words AND, `or` splits, -neg, quoted phrase") {
    import operators.FullText.Websearch
    import Websearch._
    // PG websearch_to_tsquery('a b or "x y z" -c') ≡ (a & b) | (x<->y<->z & !c)
    assert(parse("""a b or "x y z" -c""") ==
      Seq(Seq(Word("a"), Word("b")), Seq(Phrase(Seq("x", "y", "z")), Not("c"))))
    // single-word quotes collapse to a plain word (PG does the same)
    assert(parse(""""solo" term""") == Seq(Seq(Word("solo"), Word("term"))))
    // case folding + empty-phrase elision + leading or → empty first branch
    assert(parse("""OR A -B """) == Seq(Seq(), Seq(Word("a"), Not("b"))))
    // lone dash is a literal token, not a negation
    assert(parse("a - b") == Seq(Seq(Word("a"), Word("-"), Word("b"))))
  }

  test("f12 websearch compiled predicate evaluates correctly on Spark rows") {
    import spark.implicits._
    import operators.FullText.Websearch
    val q = Websearch.parse("""merge vector or "hash join" -stream""")
    val docs = Seq(
      (1L, "merge the vector now"),        // branch0 hit
      (2L, "a hash join plan"),            // branch1 hit (phrase, no stream)
      (3L, "a hash join stream plan"),     // phrase but negated by stream
      (4L, "join hash reversed"),          // phrase order matters
      (5L, "merge only"),                  // partial AND fails
      (6L, "x")                            // short doc: guarded sequence
    ).toDF("doc_id", "text")
      .withColumn("toks", expr("filter(split(lower(text), ' '), x -> x <> '')"))
      .withColumn("b0", expr(Websearch.sparkBranch(q(0))))
      .withColumn("b1", expr(Websearch.sparkBranch(q(1))))
    val got = docs.select("doc_id", "b0", "b1").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(got(1L) == ((true, false)))
    assert(got(2L) == ((false, true)))
    assert(got(3L) == ((false, false)), "NOT stream must veto the phrase branch")
    assert(got(4L) == ((false, false)), "phrase is ordered adjacency")
    assert(got(5L) == ((false, false)))
    assert(got(6L) == ((false, false)), "1-token doc must not crash the phrase scan")
  }

  test("FrameFeats ≡ per-frame brute force; frame-count contract; corpus n_chars invariant") {
    def brute(s: String, width: Int, energy: Boolean): Seq[Long] = {
      val cps = s.codePoints().toArray
      (0 until cps.length / width).map { f =>
        (0 until width).map { i =>
          val c = cps(f * width + i).toLong
          if (energy) (c - 32L) * (c - 32L) else c
        }.sum
      }
    }
    def kernel(s: String, width: Int, energy: Boolean): Seq[Long] = {
      val ad = graft.functions.FrameFeats.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), width, energy)
      (0 until ad.numElements()).map(ad.getLong)
    }
    val rnd = new scala.util.Random(7)
    for (len <- Seq(0, 1, 15, 16, 17, 31, 32, 200); e <- Seq(false, true)) {
      val s = (1 to len).map(_ => (' ' + rnd.nextInt(95)).toChar).mkString
      assert(kernel(s, 16, e) == brute(s, 16, e), s"len=$len energy=$e")
    }
    // len < width → no complete frame; non-ASCII codepoints count once
    assert(kernel("short", 16, false).isEmpty)
    assert(kernel("é" * 16, 16, false) == Seq(16L * 0xE9))
    // CharGrams ≡ the positional substring form, one pass
    def grams(s: String, n: Int): Seq[String] = {
      val ad = graft.functions.CharGrams.compute(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), n)
      (0 until ad.numElements()).map(i => ad.getUTF8String(i).toString)
    }
    assert(grams("abcdef", 3) == Seq("abc", "bcd", "cde", "def"))
    assert(grams("ab", 3).isEmpty && grams("", 2).isEmpty)
    assert(grams("héllo", 2) == Seq("hé", "él", "ll", "lo"))
    // the m06/m08 oracles iterate frames from n_chars while frame_sums
    // derives them from text itself — sound only while n_chars ==
    // length(text); assert the corpus invariant loudly
    val drift = Tables.df(spark, Sf, "documents")
      .filter(org.apache.spark.sql.functions.expr("n_chars != length(text)")).count()
    assert(drift == 0, "documents n_chars != length(text): m06/m08 frame basis drifted")
  }

  /** Frame-feature arrays for the segmentation kernels: empty, one frame,
    * all equal (one scene), every step over 40 (one pick per scene),
    * scenes of length 2 and 3 (de-duplicated picks), steps of exactly
    * ±40 (no cut), energy exactly 40000, all and none voiced, then
    * random walks whose steps straddle both thresholds. */
  private def frameArrays: Seq[Array[Long]] = {
    val rnd = new scala.util.Random(11)
    Seq(Array.empty[Long], Array(7L), Array.fill(9)(500L), Array(0L, 100L, 0L, 100L, 0L),
      Array(0L, 10L, 200L, 210L, 400L, 400L, 400L, 900L), Array(0L, 40L, 0L, -40L, 41L),
      Array(40000L, 39999L, 40000L, 40000L, 0L, 40001L), Array.fill(6)(90000L),
      Array.fill(6)(39999L)) ++
      (1 to 300).map { _ =>
        val a = new Array[Long](rnd.nextInt(40))
        for (i <- a.indices)
          a(i) = (if (i == 0) 40000L else a(i - 1)) + rnd.nextInt(101) - 50 + rnd.nextInt(3) * 20000 - 20000
        a
      }
  }

  /** Scenes and picks the way the relational form derives them: cut
    * flags, scene ids as their running sum, picks as a set per scene. */
  private def bruteScenes(a: Array[Long]): Seq[Long] = {
    val cuts = a.indices.map(i => if (i == 0 || math.abs(a(i) - a(i - 1)) > 40) 1 else 0)
    val scenes = a.indices.groupBy(i => cuts.take(i + 1).sum).values.toSeq
    val picks = scenes.flatMap { fs =>
      Set(fs.min, fs.min + (fs.size - 1) / 2, fs.min + fs.size - 1) }
    Seq(a.length.toLong, scenes.size.toLong, (0 +: scenes.map(_.size)).max.toLong,
      picks.size.toLong, picks.map(a(_)).sum)
  }

  /** Voiced runs as gaps and islands: voiced frame index minus its rank. */
  private def bruteRuns(a: Array[Long]): Seq[Long] = {
    val voiced = a.indices.filter(a(_) >= 40000L)
    val runs = voiced.zipWithIndex.groupBy { case (f, rank) => f - rank }.values.map(_.size)
    Seq(a.length.toLong, voiced.size.toLong, runs.size.toLong, (0 +: runs.toSeq).max.toLong)
  }

  test("scene_census and voiced_runs ≡ brute-force folds over frame arrays") {
    import graft.functions.FrameSegments
    def fields(r: org.apache.spark.sql.catalyst.InternalRow, n: Int) = (0 until n).map(r.getLong)
    def arr(a: Array[Long]) = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(a)
    for (a <- frameArrays) {
      assert(fields(FrameSegments.scenes(arr(a), 40L), 5) == bruteScenes(a), a.mkString(","))
      assert(fields(FrameSegments.runs(arr(a), 40000L), 4) == bruteRuns(a), a.mkString(","))
    }
    val Seq(empty, one, equal, jumpy, short, edge, energy, loud, quiet) = frameArrays.take(9)
    assert(bruteScenes(empty) == Seq(0L, 0L, 0L, 0L, 0L) && bruteRuns(empty) == Seq(0L, 0L, 0L, 0L))
    assert(bruteScenes(one) == Seq(1L, 1L, 1L, 1L, 7L))
    assert(bruteScenes(equal) == Seq(9L, 1L, 9L, 3L, 1500L))
    assert(bruteScenes(jumpy) == Seq(5L, 5L, 1L, 5L, 200L))
    // scenes [0,10] [200,210] [400,400,400] [900]: 2 + 2 + 3 + 1 picks
    assert(bruteScenes(short) == Seq(8L, 4L, 3L, 8L, 2520L))
    assert(bruteScenes(edge) == Seq(5L, 2L, 4L, 4L, 41L), "a step of exactly 40 is no cut")
    assert(bruteRuns(energy) == Seq(6L, 4L, 3L, 2L), "energy exactly 40000 is voiced")
    assert(bruteRuns(loud) == Seq(6L, 6L, 1L, 6L) && bruteRuns(quiet) == Seq(6L, 0L, 0L, 0L))
    // the registered expressions, compiled and interpreted, NULL in, NULL out
    import spark.implicits._
    val df = (frameArrays.map(Option(_)) :+ None).zipWithIndex.map(_.swap).toDF("i", "a")
    bothEvalModes { mode =>
      val got = df.selectExpr("i", "scene_census(a, 40) AS s", "voiced_runs(a, 40000) AS v")
        .collect().sortBy(_.getInt(0))
      val want = frameArrays.map(a => (Some(bruteScenes(a)), Some(bruteRuns(a)))) :+ ((None, None))
      def longs(r: org.apache.spark.sql.Row) = Option(r).map(x => (0 until x.size).map(x.getLong))
      assert(got.map(r => (longs(r.getStruct(1)), longs(r.getStruct(2)))).toSeq == want, mode)
    }
    // a document without a complete 16-char frame gives no row
    val docs = Seq[(Long, String)](1L -> null, 2L -> "", 3L -> ("x" * 15), 4L -> ("é" * 16), 5L -> ("y" * 40))
      .toDF("doc_id", "text")
    val kept = operators.Multimodal.frameCensus(docs, "scene_census(frame_sums(text, 16), 40)")
      .select(col("doc_id"), col("c.n_frames")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(kept.sorted.toSeq == Seq((4L, 1L), (5L, 2L)))
  }

  test("Crc24 matches the CRC-24/OPENPGP check value and the RFC 4880 empty init") {
    assert(graft.functions.Crc24.crc("123456789".getBytes("UTF-8")) == 0x21CF02L)
    assert(graft.functions.Crc24.crc(Array.empty[Byte]) == 0xB704CEL)
  }

  test("Winnow kernel ≡ brute-force per-window argmin; excerpt guarantee holds") {
    val P = 1000000007L
    def direct(s: String, k: Int, w: Int): Set[Long] = {
      val cps = s.codePoints().toArray
      val L = cps.length
      val m = math.max(L - k + 1, 1)
      val klen = math.min(k, L)
      val g = Array.tabulate(m) { i0 =>
        (i0 until i0 + klen).foldLeft(0L)((acc, j) => (acc * 31 + cps(j)) % P)
      }
      // per-window independent argmin, rightmost on ties (the oracle's
      // composite-MIN decode) — deliberately NOT the deque formulation
      (0 until math.max(m - w + 1, 1)).map { ws =>
        var best = ws
        var j = ws
        while (j < math.min(ws + w, m)) { if (g(j) <= g(best)) best = j; j += 1 }
        g(best)
      }.toSet
    }
    def kernel(s: String, k: Int, w: Int): Set[Long] = {
      val ad = graft.functions.Winnow.fps(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), k, w)
      (0 until ad.numElements()).map(ad.getLong).toSet
    }
    val rnd = new scala.util.Random(42)
    for (len <- Seq(0, 1, 5, 7, 8, 9, 14, 15, 40, 300); trial <- 1 to 20) {
      val s = (1 to len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString // small alphabet forces hash ties
      assert(kernel(s, 8, 8) == direct(s, 8, 8), s"len=$len s=$s")
    }
    // winnowing guarantee: a shared substring of length >= k+w-1 chars
    // yields at least one shared fingerprint
    val excerpt = "the quick brown fox jumps over the lazy dog"
    val a = "AAAA " + excerpt + " BBBB"
    val b = "xyz 123 " + excerpt + " 987 qpr"
    assert(kernel(a, 8, 8).intersect(kernel(b, 8, 8)).nonEmpty)
  }

  /** `body` once under whole-stage codegen and once fully interpreted
    * (no whole-stage codegen, interpreted projections and predicates). */
  private def bothEvalModes(body: String => Unit): Unit =
    for ((mode, ws, factory) <- Seq(("codegen", "true", "CODEGEN_ONLY"),
                                    ("interpreted", "false", "NO_CODEGEN"))) {
      spark.conf.set("spark.sql.codegen.wholeStage", ws)
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      try body(mode)
      finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  /** Edge-case documents for the word-census kernel: no tokens (empty,
    * all-space, null), runs of spaces, leading/trailing spaces, tabs and
    * newlines (inside tokens), characters outside the BMP, one token
    * repeated 100 times, repeated stop words. */
  private def censusDocs = {
    import spark.implicits._
    Seq[(Long, String)](
      1L -> "", 2L -> "     ", 3L -> null,
      4L -> "a  b   c    a", 5L -> "  lead and trail  ",
      6L -> "tab\there new\nline tab\there\t", 7L -> "\ud835\udd18ni \ud83d\ude00x \ud83d\ude00x caf\u00e9",
      8L -> Seq.fill(100)("rep").mkString(" "),
      9L -> "the cat and the dog of a to the to The THE",
      10L -> "x", 11L -> " y ")
      .toDF("doc_id", "text")
  }

  /** Today's relational census: explode, (doc, tok) count, doc rollup. */
  private def relationalStats(docs: org.apache.spark.sql.DataFrame) =
    docs.select(col("doc_id"), explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id")).agg(
        sum(col("cnt")).as("n"), count(lit(1)).as("n_distinct"), max(col("cnt")).as("max_cnt"),
        sum(col("cnt") * length(col("tok"))).as("sum_len"),
        count(when(col("tok").isin("the", "a", "and", "of", "to"), 1)).as("stop_hits"),
        sum(expr("cnt * CAST(round(ln(cnt) * 1000000.0) AS BIGINT)")).as("slc"))

  test("word_stats ≡ the relational census rollup; token-free documents stay absent") {
    bothEvalModes { mode =>
      val want = relationalStats(censusDocs).collect().toSet
      val got = operators.TextOps.wordStats(censusDocs, "doc_id").collect().toSet
      assert(got == want, s"$mode: kernel $got\nrelational $want")
      assert(got.map(_.getLong(0)) == (4L to 11L).toSet, s"$mode: docs 1-3 have no tokens")
      val sumLen = got.find(_.getLong(0) == 7L).get.getLong(4)
      assert(sumLen == 11L, s"$mode: sum_len counts code points, got $sumLen")
    }
  }

  test("word_census ≡ the (doc, tok) count; t14/t21/t22 keep only documents with tokens") {
    bothEvalModes { mode =>
      val want = censusDocs
        .select(col("doc_id"), explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("cnt"))
        .collect().toSet
      val got = censusDocs.select(col("doc_id"), expr("inline(word_census(text))")).collect()
      assert(got.toSet == want, s"$mode")
      assert(got.length == got.toSet.size, s"$mode: one element per distinct token")
      assert(got.filter(_.getLong(0) == 8L).map(r => (r.getString(1), r.getLong(2))).toSeq ==
        Seq(("rep", 100L)), mode)
    }
    val nulls = censusDocs.selectExpr("doc_id", "word_census(text) AS c", "word_stats(text, 'the') AS s")
      .filter("doc_id <= 3").collect().sortBy(_.getLong(0))
    assert(nulls.map(r => Option(r.getSeq[Any](1)).map(_.size)).toSeq == Seq(Some(0), Some(0), None))
    assert(nulls.map(r => Option(r.getStruct(2)).map(_.getLong(0))).toSeq == Seq(Some(0L), Some(0L), None))
  }

  test("lnμ(c) is bit-identical to CAST(round(ln(c) * 1000000.0) AS BIGINT), c = 1..100000") {
    bothEvalModes { mode =>
      val sql = spark.range(1, 100001).selectExpr("id", "CAST(round(ln(id) * 1000000.0) AS BIGINT) AS m")
        .collect()
      assert(sql.length == 100000)
      val bad = sql.filter(r => graft.functions.WordCensus.lnMicro(r.getLong(0)) != r.getLong(1))
      assert(bad.isEmpty, s"$mode: ${bad.take(5).mkString(", ")}")
    }
  }
}
