package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-query semantic invariants — relations that must hold between
  * independent pipelines over the same base data. These catch logic bugs
  * a per-query snapshot can't (e.g. a dedup grouping that silently drops
  * rows still reproduces ITS OWN wrong count). */
class InvariantsSpec extends AnyFunSuite {
  import SparkSuite._

  private def q(name: String) = SparkEntry.queries(name)(spark, Sf)

  test("d01: copies partition the corpus (sum of n_copies == total docs)") {
    val total = Tables.df(spark, Sf, "documents").count()
    val summed = q("d01_exact_dedup").agg(sum("n_copies")).head.getLong(0)
    assert(summed == total)
  }

  test("e02: session events partition the event stream") {
    val total = Tables.df(spark, Sf, "events").count()
    val summed = q("e02_sessionize").agg(sum("n_events")).head.getLong(0)
    assert(summed == total)
  }

  test("e02: session counts are positive and bounded by event counts") {
    assert(q("e02_sessionize")
      .filter(col("n_sessions") < 1 || col("n_sessions") > col("n_events"))
      .count() == 0)
  }

  test("e04: funnel flags are monotone (converted implies both stages)") {
    assert(q("e04_signup_purchase_funnel")
      .filter(col("converted") === 1 && (col("signed_up") === 0 || col("purchased") === 0))
      .count() == 0)
  }

  test("q38: rollup grand total equals orders count") {
    val total = Tables.df(spark, Sf, "orders").count()
    val grand = q("q38_rollup_orders")
      .filter(col("o_orderstatus").isNull && col("o_orderpriority").isNull)
      .select("n").head.getLong(0)
    assert(grand == total)
  }

  test("q39: cube grand total equals lineitem count") {
    val total = Tables.df(spark, Sf, "lineitem").count()
    val grand = q("q39_cube_lineitem")
      .filter(col("l_returnflag").isNull && col("l_linestatus").isNull)
      .select("n").head.getLong(0)
    assert(grand == total)
  }

  test("t01: distinct tokens never exceed total tokens") {
    assert(q("t01_token_stats")
      .filter(col("n_distinct_tokens") > col("n_tokens")).count() == 0)
  }

  test("t02: ratios live in [0, 1]") {
    assert(q("t02_quality_score")
      .filter(col("punct_ratio") < 0 || col("punct_ratio") > 1
        || col("stopword_ratio") < 0 || col("stopword_ratio") > 1
        || col("ttr") < 0 || col("ttr") > 1).count() == 0)
  }

  test("s01: exactly 5 ranked neighbors per query vector, rn dense in 1..5") {
    val bad = q("s01_cosine_topk").groupBy("q_id")
      .agg(count(lit(1)).as("n"), min("rn").as("lo"), max("rn").as("hi"))
      .filter(col("n") =!= 5 || col("lo") =!= 1 || col("hi") =!= 5)
    assert(bad.count() == 0)
    assert(q("s01_cosine_topk").select("q_id").distinct().count() == 20)
  }

  test("s03 near-dup pairs are a subset of same-bucket candidates with high cosine") {
    // every returned pair must be ordered and carry cosine >= the threshold,
    // and the result must be non-empty (a 0-row pass proves nothing)
    val res = q("s03_embedding_near_dup")
    assert(res.filter(col("a_id") >= col("b_id")
      || col("cosine") < operators.Similarity.NearDupCosine).count() == 0)
    assert(res.count() > 0, "s03 should verify at least one candidate pair")
  }

  test("d05: dedup assignment always keeps a strictly smaller doc id") {
    assert(q("d05_simhash_dedup")
      .filter(col("keeper_id") >= col("doc_id")).count() == 0)
  }

  test("r02: component keepers are transitively closed (keeper of a keeper is itself)") {
    val cc = q("r02_connected_dedup")
    assert(cc.filter(col("keeper_id") >= col("doc_id")).count() == 0)
    // a keeper (component minimum) must never itself be assigned away —
    // the property d05's greedy one-hop assignment does NOT have
    val bad = cc.select(col("keeper_id").as("doc_id"))
      .join(cc, Seq("doc_id"), "left_semi")
    assert(bad.count() == 0, "a component minimum was itself reassigned")
    // closure can only grow the d05 assignment set
    assert(cc.count() >= q("d05_simhash_dedup").count())
  }

  test("h13: the order-count distribution accounts for every customer") {
    val total = q("h13_customer_distribution")
      .agg(sum(col("custdist"))).head.getLong(0)
    assert(total == Tables.df(spark, Sf, "customer").count())
  }

  test("h14: promo revenue share is a percentage") {
    val v = q("h14_promo_revenue").head.getDouble(0)
    assert(v >= 0.0 && v <= 100.0, s"promo_revenue=$v")
  }

  test("h18: every large-volume order clears the quantity threshold") {
    assert(q("h18_large_volume_cust").filter(col("total_qty") <= 150).count() == 0)
  }

  test("q17/q18: intersect and except partition customer nations consistently") {
    // EXCEPT result and INTERSECT result of the same inputs are disjoint
    val except = q("q18_except_nations").select(col("nationkey"))
    val cust = Tables.df(spark, Sf, "customer")
      .select(col("c_nationkey").cast("int").as("nationkey")).distinct()
    val supp = Tables.df(spark, Sf, "supplier")
      .select(col("s_nationkey").cast("int").as("nationkey")).distinct()
    val inter = cust.intersect(supp)
    assert(except.intersect(inter).count() == 0)
  }

  test("chunking/gram queries survive docs shorter than one 8-gram") {
    // sequence(1, 0) in Spark is DESCENDING [1, 0] — an unguarded gram
    // generator crashes on any doc with < 8 tokens (the oracle's
    // generate_series(1, 0) is empty). Real corpora are full of short docs.
    val dir = Derived.path("test", "shortdocs")
    val docs = Seq(
      (1L, ""), (2L, "one two three"), (3L, "a b c d e f g"),
      (4L, "a b c d e f g h"), (5L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"))
    spark.createDataFrame(docs).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // ch01: every non-empty doc yields exactly one chunk at these lengths
    val chunks = SparkEntry.queries("ch01_doc_chunking")(spark, dir)
    assert(chunks.count() == 4 && chunks.select("doc_id").distinct().count() == 4)
    // d06: only docs with >= 8 tokens produce gram rows; short docs are
    // silently absent (empty-series semantics), not a runtime error
    val boiler = SparkEntry.queries("d06_boilerplate_ngrams")(spark, dir)
      .select("doc_id", "n_grams").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(boiler == Map(4L -> 1L, 5L -> 3L), s"got $boiler")
    // x02: doc 4 is the only doc_id%10 in {8,9}... none here; just no crash
    SparkEntry.queries("x02_contamination")(spark, dir).collect()
  }

  test("t11: linear on a 20k-token document (explode plan, not the quadratic HOF)") {
    // the former array_max(transform(array_distinct, filter)) formulation
    // was O(distinct × len) per doc — ~10⁹ comparisons for a 50k-token
    // doc on one core. The explode → count → max plan is O(tokens); a
    // 20k-token doc with 10k distinct tokens must come back promptly
    // (the quadratic form does 2×10⁸ interpreted-lambda compares here).
    val dir = Derived.path("test", "longdoc")
    val longText = (1 to 10000).map(i => s"tok$i tok$i").mkString(" ") // 20k toks, each twice
    spark.createDataFrame(Seq((1L, longText), (2L, "a a a b")))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t0 = System.nanoTime()
    val rows = SparkEntry.queries("t11_repetition")(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    val secs = (System.nanoTime() - t0) / 1e9
    assert(rows(1L).getLong(1) == 20000 &&
      math.abs(rows(1L).getDouble(2) - 2.0 / 20000) < 1e-9 && // top share = 2/20000
      math.abs(rows(1L).getDouble(3) - 0.5) < 1e-9)           // dup ratio = 1 - 10000/20000
    assert(rows(2L).getLong(1) == 4 &&
      math.abs(rows(2L).getDouble(2) - 0.75) < 1e-9)
    assert(secs < 30, s"t11 took $secs s on a 20k-token doc — not linear")
  }

  test("r01: every collatz chain terminates at 1 or at the depth cap") {
    val r = q("r01_recursive_collatz")
    val finals = r.groupBy(col("seed"))
      .agg(max_by(col("val"), col("step")).as("final_val"),
        max(col("step")).as("final_step"))
      .filter(col("final_val") > 1L && col("final_step") < 10)
    assert(finals.count() == 0,
      "a chain stopped early without reaching 1 or the recursion depth cap")
  }

  test("pair_emit ≡ the nested-HOF formulation it replaced, on ragged lists") {
    import spark.implicits._
    // ragged deterministic lists: sizes 2..40 across the cap boundary
    // (size <2 is covered by the FunctionsSpec degenerate-list test; the
    // HOF reference below is the production pre-kernel form, which only
    // ever ran behind a size(ds) >= 2 filter)
    val lists = (2 to 40).map(n => (0 until n).map(i => (i * 7919L + n) % 1000).sorted)
    val df = lists.toDF("ds")
    val both = df.selectExpr(
      "pair_emit(ds, 25) AS kernel",
      """CASE WHEN size(ds) <= 25
           THEN flatten(transform(sequence(1, size(ds) - 1), i ->
                  transform(slice(ds, i + 1, size(ds) - i), d ->
                    struct(ds[i-1] AS a_id, d AS b_id))))
           ELSE transform(slice(ds, 2, size(ds) - 1), d ->
                  struct(ds[0] AS a_id, d AS b_id))
         END AS hof""")
    assert(both.filter(col("kernel") =!= col("hof")).count() == 0,
      "kernel and HOF pair emission must agree on every list size")
  }

  test("g03: the grid-cell spatial join finds exactly the naive join's pairs") {
    // exactness of the grid rewrite: overlapping circles always share a
    // cell (intersecting bboxes have a common point), so grid == naive
    val circles = q("g03_circle_overlap")
    import spark.implicits._
    val naive = {
      val c = Tables.df(spark, Sf, "supplier").selectExpr(
        "s_suppkey", "(s_suppkey * 23) % 500 AS cx",
        "(s_suppkey * 41) % 500 AS cy", "25 + s_suppkey % 25 AS r")
      val a = c.selectExpr("s_suppkey AS a_key", "cx AS ax", "cy AS ay", "r AS ar")
      val b = c.selectExpr("s_suppkey AS b_key", "cx AS bx", "cy AS by", "r AS br")
      a.crossJoin(b).filter(col("a_key") < col("b_key"))
        .filter(expr("pow(ax - bx, 2) + pow(ay - by, 2) <= pow(ar + br, 2)"))
        .select(col("a_key"), col("b_key"))
    }
    val grid = circles.select(col("a_key"), col("b_key"))
    assert(grid.exceptAll(naive).count() == 0, "grid join emitted a bogus pair")
    assert(naive.exceptAll(grid).count() == 0, "grid join missed an overlapping pair")
  }

  test("ch02: two-phase distributed prefix sum equals the single-window packing") {
    // the scale rewrite must be arithmetic-identical to the textbook
    // one-window-per-source formulation it replaces
    import org.apache.spark.sql.expressions.Window
    val direct = Tables.df(spark, Sf, "documents")
      .select(col("doc_id"), col("source"), expr("greatest(1L, n_chars div 4)").as("tok"))
      .withColumn("start", coalesce(sum(col("tok")).over(
        Window.partitionBy(col("source")).orderBy(col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("tok")).as("total_tokens"),
        (max(expr("(start + tok - 1) div 2048")) + 1).as("n_seqs"),
        sum(when(expr("start div 2048") =!= expr("(start + tok - 1) div 2048"), 1L)
          .otherwise(0L)).as("boundary_docs"),
        round(sum(col("tok")).cast("double") /
          ((max(expr("(start + tok - 1) div 2048")) + 1) * lit(2048.0)), 6).as("avg_fill"))
    val packed = q("ch02_sequence_packing")
    assert(packed.exceptAll(direct).count() == 0 && direct.exceptAll(packed).count() == 0,
      "two-phase prefix sum diverged from the single-window packing")
  }

  test("t14: keep is exactly the conjunction of the four rule flags") {
    val bad = q("t14_gopher_rules").filter(col("keep") =!=
      col("r_wordcount") * col("r_meanlen") * col("r_stopword") * col("r_repetition"))
    assert(bad.count() == 0, "keep flag disagrees with its component rules")
  }

  test("t14: word counts agree with t01's token counts") {
    // independent pipelines (two-level count rollup vs per-row size())
    // must census the same corpus
    val a = q("t14_gopher_rules").select(col("doc_id"), col("n_words"))
    val b = q("t01_token_stats").select(col("doc_id"), col("n_tokens"))
    val diff = a.join(b, Seq("doc_id")).filter(col("n_words") =!= col("n_tokens"))
    assert(diff.count() == 0, "t14 and t01 disagree on token counts")
  }

  test("ch03: per-source sampling respects availability and the global budget") {
    val df = q("ch03_curriculum_mix")
    assert(df.filter(col("sampled_tokens") > col("tokens")).count() == 0,
      "a source samples more tokens than it has")
    val r = df.agg(sum(col("sampled_tokens")), sum(col("tokens"))).head
    val (sampled, total) = (r.getLong(0), r.getLong(1))
    // un-redistributed min() terms can only undershoot; +20 rounding slack
    assert(sampled <= (0.5 * total).toLong + 20,
      s"sampled $sampled exceeds the 50% budget of $total")
  }

  test("s07: Lloyd iterations never increase total inertia; clusters partition the corpus") {
    import operators.Similarity._
    val emb = kmeansQuantized(spark, Sf)
    val cents0 = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cent_id"), col("qv").as("cv"))
    val a1 = kmeansAssign(emb, cents0)
    val a2 = kmeansAssign(emb, kmeansRecompute(a1))
    val i1 = a1.agg(sum("d2")).head.getLong(0)
    val i2 = a2.agg(sum("d2")).head.getLong(0)
    assert(i2 <= i1, s"inertia must be non-increasing: iter1=$i1 iter2=$i2")
    val total = Tables.df(spark, Sf, "embeddings").count()
    assert(a2.count() == total, "every vector is assigned exactly once")
  }

  test("er01: clusters partition the mention stream (rows and names conserved)") {
    val hist = q("er01_entity_clusters").collect()
    val totalRows = hist.map(_.getLong(2)).sum
    val totalNames = hist.map(r => r.getLong(0) * r.getLong(1)).sum
    assert(totalRows == Tables.df(spark, Sf, "part").count(),
      "every mention lands in exactly one cluster")
    val distinctNames = Tables.df(spark, Sf, "part")
      .select(lower(col("p_name"))).distinct().count()
    assert(totalNames == distinctNames,
      "every distinct name lands in exactly one cluster")
  }

  test("fz02: trigram extraction matches PG's documented show_trgm('cat')") {
    // PG docs: show_trgm('cat') = {"  c"," ca","at ","cat"}
    import spark.implicits._
    val got = operators.Trgm.trigrams(Seq("cat").toDF("word"), "word")
      .select("tg").collect().map(_.getString(0)).toSet
    assert(got == Set("  c", " ca", "cat", "at "))
  }

  test("fz02: every truncated probe recovers a word at >= the self-match bound") {
    // probe = word minus last char (len n >= 4) shares n-1 of its n
    // trigrams with the source word: sml >= (n-1)/(n+2) >= 0.5 at n=4,
    // so best_sml >= 0.5 for every probe and no probe goes unmatched.
    val rows = q("fz02_trgm_match").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) >= 0.5, s"best_sml below self-match bound: $r")
      assert(r.getLong(3) >= 1L)
    }
  }

  test("ml01: segments partition lineitem; OLS plane passes through each centroid") {
    val rows = q("ml01_linreg").collect()
    assert(rows.map(_.getLong(1)).sum == Tables.df(spark, Sf, "lineitem").count(),
      "every observation lands in exactly one segment")
    // per-group means from the same exact-integer features the query uses
    val means = Tables.df(spark, Sf, "lineitem")
      .selectExpr("l_returnflag AS grp",
        "CAST(round(l_quantity) AS BIGINT) AS q",
        "CAST(round(l_discount * 100) AS BIGINT) AS d",
        "CAST(round(l_extendedprice * 100) AS BIGINT) AS y")
      .groupBy("grp").agg(avg("q").as("mq"), avg("d").as("md"), avg("y").as("my"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    rows.foreach { r =>
      // an intercept fit always passes through (x̄, ȳ): β0 + β1·x̄1 + β2·x̄2 = ȳ
      val (mq, md, my) = means(r.getString(0))
      val pred = r.getDouble(2) + r.getDouble(3) * mq + r.getDouble(4) * md
      assert(math.abs(pred - my) < 0.01, s"centroid identity violated: $r pred=$pred mean=$my")
      val r2 = r.getDouble(5)
      assert(r2 > -1e-9 && r2 <= 1, s"r2 out of range: $r")
    }
  }

  test("cb01: branch paths are consistent (level+1 labels, ending in keyid)") {
    val rows = q("cb01_connectby").collect()
    assert(rows.nonEmpty)
    val keysByLevel = rows.groupBy(_.getInt(2)).view.mapValues(_.map(_.getLong(0)).toSet).toMap
    rows.foreach { r =>
      val (key, lvl, branch) = (r.getLong(0), r.getInt(2), r.getString(3))
      val parts = branch.split("~")
      assert(parts.length == lvl + 1, s"branch must have level+1 labels: $r")
      assert(parts.last.toLong == key, s"branch must end in keyid: $r")
      if (lvl == 0) assert(r.isNullAt(1), s"root parent must be NULL: $r")
      else assert(keysByLevel(lvl - 1).contains(r.getLong(1)),
        s"parent must exist one level up: $r")
    }
  }

  test("f09: cover-density ranks exactly the AND-match docs, with sane bounds") {
    // a doc has >= 1 adjacent distinct-term pair iff it contains both
    // terms, so f09's row set must equal the tsquery AND-match set
    val andMatch = Tables.df(spark, Sf, "documents")
      .filter(expr("""size(filter(split(lower(text), ' '), x -> x = 'scan')) > 0
                  AND size(filter(split(lower(text), ' '), x -> x = 'join')) > 0"""))
      .count()
    val rows = q("f09_ts_rank_cd").collect()
    assert(rows.length.toLong == andMatch)
    rows.foreach { r =>
      // each cover contributes at most 0.1 (gap >= 1)
      assert(r.getDouble(2) > 0 && r.getDouble(2) <= 0.1 * r.getInt(1) + 1e-9, s"rank bound: $r")
    }
  }

  test("fz03: exact-phrase docs score 1.0; single-word docs hit exactly 0.5") {
    val byDoc = q("fz03_strict_word_sml").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val docs = Tables.df(spark, Sf, "documents")
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
    docs.foreach { r =>
      val (id, t) = (r.getLong(0), r.getString(1))
      val words = t.split("[^a-z0-9]+").filter(_.nonEmpty)
      val phrase = words.sliding(2).exists(p => p.length == 2 && p(0) == "hash" && p(1) == "join")
      if (phrase)
        assert(byDoc.get(id).contains(1.0), s"adjacent 'hash join' must score 1.0: doc $id")
      else if (words.contains("hash") || words.contains("join"))
        // a lone probe word is a 5-trigram span sharing all 5: 5/(10+5-5)
        assert(byDoc(id) >= 0.5, s"doc with a probe word must clear 0.5: doc $id")
    }
  }

  test("t18: LM scoring covers every position of every doc; ppl is coherent") {
    val rows = q("t18_charlm_score").collect()
    val expectedPositions = Tables.df(spark, Sf, "documents")
      .selectExpr("sum(greatest(length(text) - 2, 0)) AS p").head.getLong(0)
    assert(rows.map(_.getLong(1)).sum == expectedPositions,
      "every char position scores exactly once")
    rows.foreach { r =>
      val (nll, ppl) = (r.getDouble(2), r.getDouble(3))
      // MLE probabilities are <= 1, so per-char NLL >= 0; ppl = exp(nll)
      assert(nll >= 0, s"negative NLL from an MLE model: $r")
      assert(math.abs(ppl - math.exp(nll)) < 1e-4, s"ppl must equal exp(avg_nll): $r")
    }
  }

  test("i11: every delta doc gets a verdict; keepers are base docs only") {
    val rows = q("i11_incremental_dedup").collect()
    val deltaCount = Tables.df(spark, Sf, "documents")
      .filter(col("doc_id") % 10 === 7).count()
    assert(rows.length.toLong == deltaCount, "one verdict per delta doc")
    rows.foreach { r =>
      assert(r.getLong(0) % 10 == 7, s"only delta docs in the output: $r")
      if (r.getLong(1) == 0) assert(r.isNullAt(2), s"no dup => no keeper: $r")
      else {
        assert(!r.isNullAt(2), s"dup => keeper: $r")
        assert(r.getLong(2) % 10 != 7, s"keeper must come from the base corpus: $r")
      }
    }
  }

  test("i12: surviving rows ARE the source aggregate; deletes carry no new state") {
    val rows = q("i12_merge_full_sync").collect()
    val actions = rows.map(_.getString(3)).toSet
    assert(actions.contains("DELETE") && actions.contains("INSERT"),
      "fixture must exercise both BY SOURCE delete and insert branches")
    rows.foreach { r =>
      if (r.getString(3) == "DELETE")
        assert(r.isNullAt(1) && r.isNullAt(2), s"deleted rows have no new state: $r")
      else assert(!r.isNullAt(1) && !r.isNullAt(2), s"surviving rows carry state: $r")
    }
    // post-merge state == the source-window aggregate, row for row
    val survivors = rows.filter(_.getString(3) != "DELETE")
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val src = Tables.df(spark, Sf, "orders")
      .filter(expr("o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        expr("CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)").as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(survivors == src, "full sync must land exactly the source window state")
  }

  test("fz04: SQL soundex pipeline matches a direct rendition of _soundex") {
    // reference algorithm (fuzzystrmatch.c _soundex) reimplemented
    // directly: emit code(c_i) iff it differs from code(c_{i-1}) and is
    // non-zero, first 3 digits, pad to 4
    val table = "01230120022455012623010202"
    def code(c: Char) = table(c - 'A')
    def pgSoundex(w0: String): String = {
      val w = w0.toUpperCase
      val sb = new StringBuilder().append(w.head)
      var i = 1
      while (i < w.length && sb.length < 4) {
        val c = code(w(i))
        if (c != code(w(i - 1)) && c != '0') sb.append(c)
        i += 1
      }
      sb.append("0" * (4 - sb.length)).toString
    }
    val groups = q("fz04_soundex").collect()
    assert(groups.nonEmpty)
    groups.foreach { r =>
      val codeOut = r.getString(0)
      r.getString(3).split(",").foreach { w =>
        assert(pgSoundex(w) == codeOut, s"word $w grouped under $codeOut")
      }
      assert(r.getInt(4) == codeOut.zip("W323").count { case (a, b) => a == b },
        s"difference() must count matching positions: $r")
    }
  }

  test("r05: relaxation satisfies the triangle inequality on every kept edge") {
    // for any edge (u,v) with both ends reached, d(v) <= d(u) + w(u,v)
    // would hold at a full fixpoint; at K=3 hops it holds whenever u was
    // reached in <= 2 hops — check the weaker universal property instead:
    // source cost is 0 and every cost is positive elsewhere
    val rows = q("r05_shortest_path").collect()
    val d = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d(0L) == 0L, "source distance must be 0")
    assert(rows.forall(r => r.getLong(0) == 0L || r.getLong(1) >= 1),
      "non-source distances are at least the minimum edge weight")
    // spot the 1-hop neighbors: dist <= weight of the direct edge
    val n = Tables.df(spark, Sf, "documents").count()
    Seq((2L * 0 + 1) % n, (3L * 0 + 2) % n, (0L + 7) % n).foreach { v =>
      val w = (0L + v) % 17 + 1
      assert(d(v) <= w, s"direct neighbor $v must cost at most its edge weight $w")
    }
  }

  // Reference renditions of r01 and r05 as driver loops with an eager
  // spool per round: the one-plan forms must equal them row for row
  private def collatzByRounds(): DataFrame = {
    val seeds = Tables.df(spark, Sf, "orders").filter(col("o_orderkey") <= 100)
      .select(col("o_orderkey").as("seed")).distinct()
    val base = seeds.select(col("seed"), lit(0).as("step"), col("seed").as("val"))
      .localCheckpoint()
    Iterator.iterate(base) { frontier =>
      frontier.filter(col("val") > 1 && col("step") < 10)
        .select(col("seed"), (col("step") + 1).as("step"),
          when(col("val") % 2 === 0, expr("val div 2")).otherwise(col("val") * 3 + 1).as("val"))
        .localCheckpoint()
    }.take(11).toSeq.reduce(_ union _)
  }

  private def shortestPathByRounds(): DataFrame = {
    val docs = Tables.df(spark, Sf, "documents").select(col("doc_id"))
    val edges = operators.Recursive.pagerankEdges(docs)
      .withColumn("w", expr("(src + dst) % 17 + 1"))
      .localCheckpoint()
    var dist = docs.filter(col("doc_id") === 0).select(col("doc_id"), lit(0L).as("d"))
    for (_ <- 1 to 3) {
      val relax = edges.join(dist, col("src") === col("doc_id"))
        .select(col("dst").as("doc_id"), (col("d") + col("w")).as("d"))
      dist = dist.unionAll(relax).groupBy(col("doc_id")).agg(min(col("d")).as("d"))
        .localCheckpoint()
    }
    dist.select(col("doc_id"), col("d").as("dist_cost"))
  }

  test("r01 and r05 equal their per-round spooled loops row for row") {
    try {
      val r01 = q("r01_recursive_collatz").collect().toSeq
      assert(r01.size > 100 && r01.map(_.getInt(1)).max == 10, "collatz must reach the depth cap")
      assert(r01 == collatzByRounds().orderBy("seed", "step").collect().toSeq)
      val r05 = q("r05_shortest_path").collect().toSeq
      assert(r05.size > 13, "3 hops from node 0 must reach past its 2-hop ball")
      assert(r05 == shortestPathByRounds().orderBy("doc_id").collect().toSeq)
    } finally Harness.hygiene(spark)
  }

  test("r01 and r05 build without a Spark job and run without a spool") {
    import org.apache.spark.graft.ListenerBus
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val names = Seq("r01_recursive_collatz", "r05_shortest_path")
    names.foreach(q) // first reads of a table may list its files
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBus.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(counter)
    val dfs = try names.map(q) finally {
      ListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(counter)
    }
    assert(jobs.get == 0, s"building r01/r05 launched ${jobs.get} jobs: a per-round action is back")
    try for ((n, df) <- names.zip(dfs)) {
      df.queryExecution.toRdd.count()
      val fp = PlanDump.fingerprint(df.queryExecution.executedPlan)
      assert(!fp.contains("scan.local"), s"$n reads a spool: $fp")
    } finally Harness.hygiene(spark)
  }

  test("d08: every representative belongs to its cluster and has its max length") {
    val reps = q("d08_cluster_representatives")
    // keeper_chars is genuinely the max length among members, and the
    // keeper is a member with exactly that length (join back to check)
    val sim = operators.Dedup.simhashDf(spark, Sf).select(col("doc_id"), col("hi_band"))
    val docs = Tables.df(spark, Sf, "documents").select(col("doc_id"), col("n_chars"))
    // alias-qualified references: the memoized Tables.df means the
    // query's internal documents read and this one share attribute ids,
    // so Dataset-column references would trip DetectAmbiguousSelfJoin
    val members = sim.join(docs, Seq("doc_id")).as("m")
    val bad = reps.as("r").join(members,
        col("r.keeper_id") === col("m.doc_id") && col("r.cluster") === col("m.hi_band"),
        "left")
      .filter(col("m.doc_id").isNull || col("r.keeper_chars") =!= col("m.n_chars"))
    assert(bad.count() == 0, "a representative is not a max-length member of its cluster")
  }

  test("PgToTimestamp: parse ∘ format = id over a decade of dates, all template shapes") {
    // property sweep: every template q117 uses must roundtrip every
    // date (and synthetic second-of-day) exactly — the do_to_timestamp
    // field collector may not lose or misread any field
    import graft.functions.{PgToCharTs, PgToTimestamp}
    val templates = Seq("MM/DD/YYYY", "Mon DD, YYYY", "YYYY-MM-DD",
      "MM/DD/YYYY HH24:MI:SS", "MM/DD/YYYY HH12:MI:SS AM")
    var day = java.time.LocalDate.of(1992, 1, 1)
    val end = java.time.LocalDate.of(2002, 1, 1)
    var i = 0L
    while (day.isBefore(end)) {
      val secs = (i * 8641) % 86400 // sweeps the clock incl. 00:xx and 12:xx
      val micros = (day.toEpochDay * 86400L + secs) * 1000000L
      templates.foreach { t =>
        val text = PgToCharTs.format(micros, t)
        val back = PgToTimestamp.parse(text, t)
        val expected = if (t.contains("HH")) micros else day.toEpochDay * 86400L * 1000000L
        assert(back == expected, s"$t: $text -> $back != $expected")
      }
      day = day.plusDays(137) // ~27 samples/year incl. leap Februaries
      i += 1
    }
  }

  test("PairEmitSized prune soundness: a dropped pair can never reach rounded jaccard 0.5") {
    // for every (min_sz, max_sz) the kernel prunes, the BEST case
    // jaccard (inter = min_sz) must round below 0.5; for every kept
    // ratio there must exist an inter reaching it — the prune is
    // exactly tight, never lossy
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def pairKept(sa: Long, sb: Long): Boolean = {
      val arr = new GenericArrayData(Array[Any](
        new GenericInternalRow(Array[Any](1L, sa)),
        new GenericInternalRow(Array[Any](2L, sb))))
      graft.functions.PairEmit.emitSized(arr, 50).numElements() == 1
    }
    for (sa <- 1L to 120L; sb <- sa to 120L) {
      val bestJ = BigDecimal(sa.toDouble / sb).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      val kept = pairKept(sa, sb)
      if (kept) assert(bestJ >= BigDecimal("0.5"),
        s"kept ($sa,$sb) but best rounded jaccard $bestJ < 0.5")
      else assert(bestJ < BigDecimal("0.5"),
        s"pruned ($sa,$sb) but best rounded jaccard $bestJ could pass")
    }
  }

  test("d11: every cluster keeps exactly the closest ceil(half) of its members") {
    val rows = SparkEntry.queries("d11_semdedup")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, kept) = (r.getLong(1), r.getLong(2))
      assert(kept == (n + 1) / 2, s"cluster ${r.getLong(0)}: kept $kept of $n")
    }
  }

  test("s08: PQ ranks are dense 1..5 with non-decreasing ADC distance, recall5 in [0,5]") {
    val rows = SparkEntry.queries("s08_pq_ann")(spark, Sf).collect()
      .groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to 5), s"q$q ranks not dense")
      val d = sorted.map(_.getDouble(3))
      assert(d.zip(d.tail).forall { case (a, b) => a <= b }, s"q$q ADC not sorted: ${d.toSeq}")
      val rec = rs.map(_.getLong(4)).distinct
      assert(rec.length == 1 && rec.head >= 0 && rec.head <= 5, s"q$q recall5 ${rec.toSeq}")
    }
  }

  test("s09: multi-probe candidate count dominates the own-bucket count per query") {
    // probing 8 extra Hamming-1 buckets can only ADD candidates — every
    // query's n_cand must be >= its own-bucket occupancy minus itself
    val multi = SparkEntry.queries("s09_multiprobe_lsh")(spark, Sf).collect()
      .map(r => r.getLong(0) -> r.getLong(4)).toMap
    Tables.register(spark, Sf)
    val own = spark.sql("""
      WITH b AS (
        SELECT vec_id,
          aggregate(sequence(0, 7), 0L, (acc, p) ->
            acc + CASE WHEN
              aggregate(sequence(1, size(embedding)), 0D, (a, j) ->
                a + CAST(embedding[j-1] AS DOUBLE)
                  * CAST((p * 37 + (j - 1) * 17) % 13 - 6 AS DOUBLE))
              > 0D THEN CAST(pow(2, p) AS BIGINT) ELSE 0L END) AS bucket
        FROM embeddings)
      SELECT q.vec_id, count(c.vec_id) - 1 AS own_cands
      FROM b q JOIN b c ON q.bucket = c.bucket
      WHERE q.vec_id < 10 GROUP BY q.vec_id""").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(multi.nonEmpty && own.nonEmpty)
    own.foreach { case (q, o) =>
      assert(multi.getOrElse(q, 0L) >= o,
        s"query $q: multi-probe ${multi.get(q)} < own-bucket $o")
    }
  }

  test("t22: funnel stages chain — each gate's entrants are the previous survivors") {
    val rows = SparkEntry.queries("t22_filter_funnel")(spark, Sf)
      .orderBy("stage").collect()
    assert(rows.length == 5)
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getAs[Long]("entering") == a.getAs[Long]("surviving"),
        s"stage ${b.getAs[Long]("stage")} entrants != prior survivors")
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("surviving") <= r.getAs[Long]("entering"))
      assert(r.getAs[Long]("dropped") ==
        r.getAs[Long]("entering") - r.getAs[Long]("surviving"))
    }
  }

  test("s11: candidate sets and recall are monotone in the probe budget") {
    val rows = SparkEntry.queries("s11_probe_sweep")(spark, Sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
    assert(rows.nonEmpty)
    rows.foreach { case (q, rs) =>
      val byLevel = rs.sortBy(_.getAs[Long]("level"))
      byLevel.sliding(2).foreach {
        case Array(lo, hi) =>
          assert(lo.getAs[Long]("n_cand") <= hi.getAs[Long]("n_cand"),
            s"q$q: candidates shrank as probes grew")
          assert(lo.getAs[Long]("hits3") <= hi.getAs[Long]("hits3"),
            s"q$q: recall fell as probes grew — level sets must nest")
        case _ =>
      }
    }
  }

  test("d14: planted duplicate spans produce exact runs, merges, and coverage") {
    // W = 8. Docs 1/2 share one 10-token span S → each reports 3 dup
    // windows in ONE run of 10 tokens. Doc 3 overlaps span X (shared
    // with doc 4) at positions 2-11 and span Y (shared with doc 5) at
    // 8-17: two strict runs {2,3,4} and {8,9,10} whose covered
    // intervals are 4 apart (≤ W-1) — they must MERGE into one
    // [2, 17] = 16-token removable interval while n_runs stays 2.
    import spark.implicits._
    val s10 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val x6 = "x1 x2 x3 x4 x5 x6"; val s4 = "s1 s2 s3 s4"; val y6 = "y1 y2 y3 y4 y5 y6"
    val docs = Seq(
      1L -> s"a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 $s10 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10",
      2L -> s"c1 c2 c3 c4 c5 $s10 d1 d2 d3 d4 d5",
      3L -> s"g1 g2 $x6 $s4 $y6 g3 g4",
      4L -> s"m1 m2 $x6 $s4 m3 m4",
      5L -> s"n1 n2 $s4 $y6 n3 n4"
    ).toDF("doc_id", "text")
    val got = graft.operators.Dedup.spanDedupOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    assert(got.toSeq == Seq(
      (1L, 3L, 1L, 10L, 10L, 30L, 0.3333),
      (2L, 3L, 1L, 10L, 10L, 20L, 0.5),
      (3L, 6L, 2L, 10L, 16L, 20L, 0.8),
      (4L, 3L, 1L, 10L, 10L, 14L, 0.7143),
      (5L, 3L, 1L, 10L, 10L, 14L, 0.7143)), got.mkString("\n"))
    // d15 applies the cuts: doc 1 loses exactly S (tokens 10-19) and
    // rebuilds to its flanks; doc 3's MERGED interval [2, 17] cuts 16
    // tokens (including the 2-token bridge y-side straddle the merge
    // absorbed), leaving only the g's.
    val cut = graft.operators.Dedup.spanCutOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val exp = Seq(
      1L -> ("a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10", 30L),
      2L -> ("c1 c2 c3 c4 c5 d1 d2 d3 d4 d5", 20L),
      3L -> ("g1 g2 g3 g4", 20L),
      4L -> ("m1 m2 m3 m4", 14L),
      5L -> ("n1 n2 n3 n4", 14L))
    val expRows = exp.map { case (id, (txt, nb)) =>
      val na = txt.split(" ").length.toLong
      (id, nb, na, nb - na,
        java.security.MessageDigest.getInstance("MD5").digest(txt.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }
    assert(cut.toSeq == expRows, cut.mkString("\n"))
  }

  test("d15 ≡ d14: the cut removes exactly the tokens d14 reports as covered") {
    // cut_tokens (what the anti-join actually removed) must equal
    // covered_tokens (what the report claims removable) for every doc —
    // merged intervals never overlap, the last window ends at n-1, and
    // the short-doc interval clips to n on both sides identically. A
    // drift here means the report and the transform disagree on spans.
    val report = SparkEntry.queries("d14_substring_span_dedup")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("covered_tokens"), r.getAs[Long]("n_tokens"))).toMap
    val cut = SparkEntry.queries("d15_span_cut_rewrite")(spark, Sf).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("cut_tokens"), r.getAs[Long]("n_before"))).toMap
    assert(report.keySet == cut.keySet, "d14 and d15 disagree on affected docs")
    for ((id, (cov, n)) <- report) {
      assert(cut(id)._1 == cov, s"doc $id: d15 cut ${cut(id)._1} != d14 covered $cov")
      assert(cut(id)._2 == n, s"doc $id: n_before ${cut(id)._2} != n_tokens $n")
    }
  }

  test("i17 ≡ d14: every emitted incremental row is byte-equal to the full-corpus row, and the changed set is exact") {
    import org.apache.spark.sql.Row
    // (1) row-level IVM condition: each probe row equals d14's
    // full-corpus row for that doc — the incremental path may never
    // disagree with the batch path on a doc it emits
    val full = q("d14_substring_span_dedup").collect()
      .map(r => r.getLong(0) -> r).toMap
    val inc = q("i17_span_dedup_incremental").collect()
    assert(inc.nonEmpty, "probe emitted nothing — the delta slice is degenerate")
    for (r <- inc) {
      val id = r.getLong(0)
      assert(full.contains(id), s"probe emitted doc $id that d14 does not report")
      assert(r == full(id), s"doc $id: incremental row $r != batch row ${full(id)}")
    }
    // (2) completeness on the delta side: every delta doc d14 reports
    // is emitted (a new doc's coverage is changed by definition)
    val deltaReported = full.keySet.filter(_ % 4 == 0)
    val emitted = inc.map(_.getLong(0)).toSet
    assert(deltaReported.subsetOf(emitted),
      s"delta docs with coverage missing from the probe: ${deltaReported -- emitted}")
    // (3) minimality on the base side: an emitted base doc must hold a
    // window fingerprint that is UNIQUE within the base corpus and also
    // present in the delta — the only way a delta can change base
    // coverage (fps already duplicated in base changed nothing)
    val docs = Tables.df(spark, Sf, "documents")
    val wins = operators.Dedup.positionalWindowsOf(docs)
      .withColumn("is_delta", (col("doc_id") % 4 === 0).cast("int"))
    val flips = wins.groupBy(col("fp"))
      .agg(countDistinct(when(col("is_delta") === 0, col("doc_id"))).as("nb"),
        countDistinct(when(col("is_delta") === 1, col("doc_id"))).as("ndd"),
        max(when(col("is_delta") === 0, col("doc_id"))).as("solo"))
      .filter(col("nb") === 1 && col("ndd") >= 1)
      .select(col("solo")).collect().map(_.getLong(0)).toSet
    val emittedBase = emitted.filter(_ % 4 != 0)
    assert(emittedBase == flips.intersect(full.keySet),
      s"changed-base set mismatch: emitted $emittedBase vs expected ${flips.intersect(full.keySet)}")
  }

  test("i17: two state folds are equivalent to the state built from scratch (IVM condition)") {
    val docs = Tables.df(spark, Sf, "documents")
    val base = docs.filter(col("doc_id") % 4 =!= 0)
    val b1 = docs.filter(col("doc_id") % 8 === 0)
    val b2 = docs.filter(col("doc_id") % 8 === 4)
    val folded = operators.Dedup.appendSpanState(
      operators.Dedup.appendSpanState(operators.Dedup.buildSpanState(base), b1), b2)
    val scratch = operators.Dedup.buildSpanState(docs)
    def sig(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(sig(folded.wins, "doc_id", "pos", "fp") == sig(scratch.wins, "doc_id", "pos", "fp"))
    assert(sig(folded.census, "fp", "nd", "solo") == sig(scratch.census, "fp", "nd", "solo"))
    assert(sig(folded.ntok, "doc_id", "n_tokens") == sig(scratch.ntok, "doc_id", "n_tokens"))
  }

  test("q142: the da-DK tailoring holds — aa ≡ å, and æ/ø/å rank after every a-z name") {
    val rows = q("q142_da_collation").collect()
    val byKey = rows.map(r => r.getString(0) -> r).toMap
    // digraph rule: Aalborg-k and Ålborg-k landed in ONE key with both
    // raw spellings preserved under it
    val aal = rows.filter(_.getString(0).startsWith("}lborg"))
    assert(aal.nonEmpty && aal.forall(_.getAs[Long]("n_forms") == 2),
      s"Aalborg/Ålborg must collapse per suffix: ${aal.mkString(",")}")
    assert(aal.exists(r => r.getAs[String]("first_form").startsWith("Aalborg")
      && r.getAs[String]("last_form").startsWith("Ålborg")))
    // letter rule: every æ/ø/å-keyed group ranks after every a-z group
    // (Zebra included) — the opposite of q141's accent-fold
    val maxLatin = rows.filter(r => r.getString(0).head <= 'z')
      .map(_.getAs[Long]("da_rank")).max
    val minDanish = rows.filter(r => "{|}".contains(r.getString(0).head))
      .map(_.getAs[Long]("da_rank")).min
    assert(maxLatin < minDanish,
      s"æ/ø/å must sort after z: max latin rank $maxLatin vs min danish $minDanish")
    // and the three extra letters keep the Danish order æ < ø < å
    def minRank(c: Char) = rows.filter(_.getString(0).head == c)
      .map(_.getAs[Long]("da_rank")).min
    assert(minRank('{') < minRank('|') && minRank('|') < minRank('}'))
  }

  test("i18 ≡ d14-over-survivors: retraction emits the exact flip set with post-delete rows") {
    val docs = Tables.df(spark, Sf, "documents")
    val survivors = docs.filter(col("doc_id") % 5 =!= 3)
    val out = q("i18_span_dedup_retract").collect().map(r => r.getLong(0) -> r).toMap
    assert(out.nonEmpty, "retraction emitted nothing — the deleted slice is degenerate")
    assert(out.keySet.forall(_ % 5 != 3), "retraction emitted a deleted doc")
    // (1) non-zero rows must equal the survivor-corpus batch rows
    val batch = operators.Dedup.spanDedupOf(survivors).collect()
      .map(r => r.getLong(0) -> r).toMap
    for ((id, r) <- out) {
      if (r.getAs[Long]("n_runs") > 0)
        assert(r == batch(id), s"doc $id: retraction row $r != survivor-batch row ${batch(id)}")
      else {
        // (2) zero rows are true retractions: the doc has NO runs in the
        // survivor corpus but HAD coverage in the full corpus
        assert(!batch.contains(id), s"doc $id reported n_runs=0 but survivor batch has runs")
        assert(r.getAs[Long]("covered_tokens") == 0 && r.getAs[Long]("n_dup_windows") == 0)
      }
    }
    // (3) every emitted doc's coverage strictly SHRANK vs the full corpus
    val before = q("d14_substring_span_dedup").collect()
      .map(r => r.getLong(0) -> r.getAs[Long]("n_dup_windows")).toMap
    for ((id, r) <- out) {
      assert(before.contains(id), s"doc $id emitted but had no coverage before the delete")
      assert(r.getAs[Long]("n_dup_windows") < before(id),
        s"doc $id: retraction did not shrink coverage (${r.getAs[Long]("n_dup_windows")} vs ${before(id)})")
    }
    // (4) minimality: no survivor outside the emitted set changed — the
    // survivor-batch rows for unemitted docs match the full-corpus rows
    val fullRows = q("d14_substring_span_dedup").collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    for ((id, r) <- batch if id % 5 != 3 && !out.contains(id))
      assert(fullRows.get(id).contains(r.toSeq),
        s"unemitted survivor $id changed between full and survivor corpora")
  }

  test("i18: retracting the state equals building it from the survivors (IVM condition)") {
    val docs = Tables.df(spark, Sf, "documents")
    val st = operators.Dedup.buildSpanState(docs)
    val deleted = st.ntok.filter(col("doc_id") % 5 === 3).select("doc_id")
    val retracted = operators.Dedup.retractSpanState(st, deleted)
    val scratch = operators.Dedup.buildSpanState(docs.filter(col("doc_id") % 5 =!= 3))
    def sig(df: org.apache.spark.sql.DataFrame, cols: String*) =
      df.select(cols.map(col): _*).collect().map(_.toString).sorted.toSeq
    assert(sig(retracted.wins, "doc_id", "pos", "fp") == sig(scratch.wins, "doc_id", "pos", "fp"))
    assert(sig(retracted.census, "fp", "nd", "solo") == sig(scratch.census, "fp", "nd", "solo"))
    assert(sig(retracted.ntok, "doc_id", "n_tokens") == sig(scratch.ntok, "doc_id", "n_tokens"))
  }

  test("t24: overlap estimates are within [0,1] and the matrix covers all pairs") {
    val rows = SparkEntry.queries("t24_source_overlap")(spark, Sf).collect()
    val srcs = rows.flatMap(r => Seq(r.getString(0), r.getString(1))).distinct.length
    assert(rows.length == srcs * (srcs - 1) / 2,
      s"expected the full upper triangle, got ${rows.length} pairs over $srcs sources")
    rows.foreach { r =>
      val est = r.getAs[Double]("jaccard_est")
      assert(est >= 0.0 && est <= 1.0, s"estimate out of range: $est")
    }
  }

  test("e19: nearest pick is one of the directional picks when both exist") {
    val rows = SparkEntry.queries("e19_asof_nearest")(spark, Sf).collect()
    assert(rows.nonEmpty)
    var both = 0
    rows.foreach { r =>
      val bwd = Option(r.getAs[java.lang.Long]("bwd_signup_id"))
      val fwd = Option(r.getAs[java.lang.Long]("fwd_signup_id"))
      val nst = Option(r.getAs[java.lang.Long]("nearest_signup_id"))
      (bwd, fwd) match {
        case (None, None) => assert(nst.isEmpty, s"nearest without any candidate: $r")
        case _ =>
          assert(nst.isDefined && (bwd.contains(nst.get) || fwd.contains(nst.get)),
            s"nearest ${nst} is neither bwd $bwd nor fwd $fwd: $r")
          if (bwd.isDefined && fwd.isDefined) both += 1
      }
    }
    assert(both > 0, "no purchase had candidates in BOTH directions — test is vacuous")
  }

  test("e21: fractional credit is CONSERVED — channel totals sum to exactly the attributed conversions") {
    // the micro-credit largest-remainder arithmetic must make Σ credit
    // across channels exactly equal the number of purchases that had at
    // least one touch (each conversion distributes exactly 1.0)
    val rows = SparkEntry.queries("e21_linear_attribution")(spark, Sf).collect()
    val totalCredit = rows.map(_.getAs[Double]("credit")).sum
    val attributed = SparkEntry.queries("e18_attribution")(spark, Sf)
      .filter(col("n_touches") > 0).count()
    assert(math.abs(totalCredit - attributed.toDouble) < 1e-6,
      s"credit $totalCredit != attributed conversions $attributed")
  }

  test("m08: scene lengths partition the frame count; every scene starts with a cut") {
    val rows = SparkEntry.queries("m08_scene_cuts")(spark, Sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_scenes") >= 1L)
      assert(r.getAs[Long]("longest_scene") <= r.getAs[Long]("n_frames"))
      assert(math.abs(r.getAs[Double]("mean_scene_len") -
        r.getAs[Long]("n_frames").toDouble / r.getAs[Long]("n_scenes")) < 1e-5)
    }
  }

  test("id01: ids are dense 1..N and the assignment is parallelism-invariant") {
    val base = q("id01_sequence_alloc").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val ids = base.map(_._2).sorted
    assert(ids.toSeq == (1L to ids.length.toLong),
      s"sequence must be dense 1..N, got ${ids.take(5).toSeq}…${ids.takeRight(3).toSeq}")
    // the sequence-server contract: a different cluster parallelism must
    // grant the SAME ids (allocation is a pure function of the data)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "3")
      val again = q("id01_sequence_alloc").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(again.toMap == base.toMap,
        "id assignment drifted under a different partitioning")
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  test("er01: the metaphone blocking key blocks, and is the only key catching double-ended typos") {
    import org.apache.spark.sql.functions.{col, count, expr, lit, lower}
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    def blocked(ents: DataFrame, key: String): DataFrame = {
      val a = ents.select(col("name").as("a"), expr(key).as("blk"))
      val b = ents.select(col("name").as("b"), expr(key).as("blk"))
      a.join(b, Seq("blk")).filter(col("a") < col("b")).select(col("a"), col("b"))
    }
    val PhoneticKey = "metaphone(split(name, ' ')[0], 4)"
    // 1. On the real vocabulary the phonetic key generates pairs (it
    //    blocks) but every one is already lexically blocked — the
    //    adjective heads are phonetically distinct — which is exactly
    //    why the er01 oracle (two lexical keys) keeps matching after
    //    the third key landed. Pin the containment so a vocabulary
    //    change that breaks it is caught HERE, not by a driver FAIL.
    val ents = Tables.df(spark, Sf, "part")
      .select(lower(col("p_name")).as("name"))
      .groupBy(col("name")).agg(count(lit(1)).as("n_rows"))
      .localCheckpoint()
    val lexical = blocked(ents, "substring(name, 1, 2)")
      .unionAll(blocked(ents, "right(name, 2)")).distinct()
    assert(blocked(ents, PhoneticKey).count() > 0, "phonetic key blocked nothing")
    val phoneticOnlySurvivors = blocked(ents, PhoneticKey).except(lexical)
      .filter(expr("levenshtein(a, b, 2) <> -1")).count()
    assert(phoneticOnlySurvivors == 0,
      s"$phoneticOnlySurvivors phonetic-only matches at current data — the er01 oracle would diverge")
    // 2. The mechanism: a head typo'd at BOTH ends ('kold platee' for
    //    'cold plate': k↔c swap + trailing e, edit distance 2) defeats
    //    both lexical keys (prefix 'ko'≠'co', suffix 'ee'≠'te') but
    //    keeps the head phoneme (kold → KLT = cold → KLT) — the recall
    //    case metaphone blocking exists for.
    val mentions = Seq("cold plate", "kold platee", "hot gear").toDF("name")
    val lex2 = blocked(mentions, "substring(name, 1, 2)")
      .unionAll(blocked(mentions, "right(name, 2)")).distinct()
      .filter(expr("levenshtein(a, b, 2) <> -1"))
    assert(lex2.count() == 0, "lexical keys unexpectedly caught the double-ended typo")
    val phon2 = blocked(mentions, PhoneticKey)
      .filter(expr("levenshtein(a, b, 2) <> -1"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(phon2.toSeq == Seq(("cold plate", "kold platee")),
      s"expected the phonetic key to recover the typo pair, got ${phon2.toSeq}")
  }

  test("parallelism invariance: order-sensitive pipelines are partitioning-proof") {
    // The repo's determinism claims (exact-integer argmins, (score, id)
    // tie orders, census-bounded merges) made mechanical: each of these
    // pipelines — iterative trainers, sketch dedup, contracted ER,
    // quantized ANN, the segment mapper — must produce IDENTICAL rows
    // under a different shuffle partitioning. Merge-order drift in any
    // double sum, undeclared tie, or partition-dependent sample would
    // fail here before the cross-engine oracle ever sees it.
    val targets = Seq("ml08_decision_tree", "d03_minhash_lsh",
      "t27_bpe_train_encode", "er02_incremental_clusters",
      "s14_ivfpq_rerank", "b05_jump_consistent_hash",
      // r12: the phonetic census, the page-budget sampler (coin top-k
      // ties), the synonym/int dictionary chains, and the fixed-width
      // tolerant load (reject accounting must not depend on which
      // partition a bad line lands in)
      "fz06_metaphone", "fz07_daitch_mokotoff", "q139_system_time",
      "f19_synonym_config", "f20_intdict_config", "c15_fixedwidth",
      "c16_fixedwidth_out",
      // r13: span dedup (window positions ride a row_number), the
      // spooled-CTE self-join, and the one-Expand multi-DQA collapse
      "d14_substring_span_dedup", "ds04_yoy_growth", "ds28_band_stats")
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      for (name <- targets) {
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        val base = SparkEntry.queries(name)(spark, Sf).collect().map(_.toString).toSeq
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        val again = SparkEntry.queries(name)(spark, Sf).collect().map(_.toString).toSeq
        assert(again == base, s"$name drifted under a different partitioning")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }
}
