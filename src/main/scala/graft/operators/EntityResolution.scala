package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Derived, Spool, Tables}

/** End-to-end entity resolution — the record-linkage pipeline every
  * training-data catalog runs over noisy entity mentions (suppliers,
  * authors, domains): canonicalize → census → BLOCKED candidate
  * generation → fuzzy match → transitive clustering. Composes the
  * engine's own primitives: levenshtein (fz01's kernel,
  * `contrib/fuzzystrmatch`), multi-key blocking (the d02/d05 posting
  * discipline — never all-pairs), and min-label propagation
  * ([[Recursive.minLabelPropagate]], r02's fixpoint).
  *
  * Scale shape, stage by stage:
  *  1. Census: ONE hash aggregate collapses the 100 TB mention stream
  *     to the distinct-value relation (Zipf: ≪ rows) with counts —
  *     all later stages run on VALUES, not mentions.
  *  2. Blocking: candidates pair only within a block (2-char prefix
  *     key ∪ 2-char suffix key — two passes so a single-key miss
  *     doesn't lose a true match; both are equi-join keys, shuffles
  *     bounded by block occupancy, the standard ER blocking layout).
  *  3. Match: banded levenshtein ≤ 2 inside blocks only.
  *  4. Cluster: label propagation on the match graph — one shuffle
  *     per round, O(diameter) rounds; isolated names restore via a
  *     left join (their own cluster).
  * The DuckDB oracle re-derives the same clusters with a genuine
  * WITH RECURSIVE reachability closure (r02's oracle shape).
  */
object EntityResolution {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er01_entity_clusters" -> { (s, dir) =>
      // 1. census over canonicalized mentions
      val ents = Tables.df(s, dir, "part")
        .select(lower(col("p_name")).as("name"))
        .groupBy(col("name")).agg(count(lit(1)).as("n_rows"))
        .localCheckpoint()
      // 2. multi-key blocking over DISTINCT names.
      // third blocking key (r11 verdict): metaphone of the head word —
      // phonetic blocking catches typo'd heads an exact prefix key
      // misses (e.g. a k/c-swap keeps the same phoneme). Keys only ADD
      // candidate pairs; the levenshtein match filter and the closure
      // are unchanged, so the oracle (prefix+suffix blocks) stays the
      // same relation as long as phonetic-only candidates fail the
      // match filter — which the compare itself proves each run.
      // r18 (guide §2.4): the three keys used to run as three separate
      // self-joins (one exchange pair + join each, then a 3-way union
      // distinct). One exploded (key_id, key_value)-tagged self-join
      // produces the identical candidate set — the key_id tag keeps
      // prefix/suffix/phonetic blocks from cross-matching on equal
      // values, exactly like the per-key joins did — through ONE
      // exchange pair and ONE join. Names are non-null non-empty, so
      // every key value is non-null (no null-key join semantics in
      // play). Idle A/B at sf0.1 + oracle hash prove equivalence.
      // defensive null-key guard (r18 advice): struct equality treats
      // null fields as EQUAL, so a future nullable key value would
      // silently cross-match one giant null block — unlike the old
      // per-key equi-joins, which dropped null keys. Free today (names
      // are non-null non-empty, so every key value is non-null).
      val keyed = ents.select(col("name"), explode(array(
        struct(lit(1).as("k"), expr("substring(name, 1, 2)").as("v")),
        struct(lit(2).as("k"), expr("right(name, 2)").as("v")),
        struct(lit(3).as("k"), expr("metaphone(split(name, ' ')[0], 4)").as("v"))))
        .as("blk"))
        .filter(col("blk.v").isNotNull)
      val cands = keyed.select(col("name").as("a"), col("blk"))
        .join(keyed.select(col("name").as("b"), col("blk")), Seq("blk"))
        .filter(col("a") < col("b"))
        .select(col("a"), col("b"))
        .distinct()
      // 3. fuzzy match inside blocks (banded edit distance)
      val edges = cands.filter(expr("levenshtein(a, b, 2) <> -1"))
      val und = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint()
      // 4. transitive clusters; isolated names keep themselves
      val labels = Recursive.minLabelPropagate(und)
      Spool.release(und)
      val clustered = ents
        .join(labels.withColumnRenamed("node", "name"), Seq("name"), "left")
        .select(col("name"), col("n_rows"),
          coalesce(col("lbl"), col("name")).as("cluster"))
      clustered.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_names"), sum(col("n_rows")).cast("bigint").as("n_rows"))
        .groupBy(col("n_names"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_rows")).cast("bigint").as("n_rows"),
          min(col("cluster")).as("sample_rep"))
        .orderBy(col("n_names"))
    },

    // -- er02: INCREMENTAL entity resolution — the i11/i16 maintenance
    //    story applied to er01: yesterday's batch clustering is
    //    PERSISTED STATE (name census + cluster labels in parquet, the
    //    i16 materialized-index pattern, built once by
    //    [[ensureBaseState]] outside the measured query exactly like a
    //    CREATE TABLE); today's delta mentions (p_partkey%10=3) are
    //    resolved with O(Δ) work. Stages: (1) census merge = persisted
    //    base ∪ delta summed by name (incremental agg); (2) candidate
    //    generation blocks ONLY delta names against the name census
    //    (the base×base quadrant is never re-paired — and since r12 the
    //    base batch is never re-derived either: the query's only
    //    part.parquet work is the delta filter, spooled); (3) new edges
    //    are CONTRACTED onto base cluster labels (a base component is
    //    one node now — min-label contraction preserves the component
    //    min, so the merged label equals the batch label); (4) label
    //    propagation runs on the TINY contracted graph (delta names +
    //    touched base labels), and base names remap through their old
    //    label. The oracle is the FROM-SCRATCH batch closure over all
    //    mentions — the compare IS the incremental ≡ batch proof --
    "er02_incremental_clusters" -> { (s, dir) =>
      val (censusPath, labelsPath) = ensureBaseState(s, dir)
      val part = Tables.df(s, dir, "part")
      def census(f: org.apache.spark.sql.Column) = part.filter(f)
        .select(lower(col("p_name")).as("name"))
        .groupBy(col("name")).agg(count(lit(1)).as("n_rows"))
      val base = s.read.parquet(censusPath)
      val delta = census(col("p_partkey") % 10 === 3).localCheckpoint()
      val baseLabels = s.read.parquet(labelsPath)

      // today: block the DELTA names against base ∪ delta names
      val allNames = base.select("name").unionAll(delta.select("name"))
        .distinct().localCheckpoint()
      def deltaPairs(key: String): DataFrame = {
        val d = delta.select(col("name").as("a"), expr(key).as("blk"))
        val all = allNames.select(col("name").as("b"),
          expr(key.replace("name", "name")).as("blk"))
        d.join(all, Seq("blk")).filter(col("a") =!= col("b"))
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
      }
      val dCands = deltaPairs("substring(name, 1, 2)")
        .unionAll(deltaPairs("right(name, 2)")).distinct()
      val dEdges = dCands.filter(expr("levenshtein(a, b, 2) <> -1"))

      // contract new edges onto base labels, propagate on the small graph
      def toLabel(c: String) = {
        val l = baseLabels.withColumnRenamed("node", c).withColumnRenamed("lbl", c + "_l")
        (df: DataFrame) => df.join(broadcast(l), Seq(c), "left")
          .withColumn(c, coalesce(col(c + "_l"), col(c))).drop(c + "_l")
      }
      val contracted = toLabel("b")(toLabel("a")(dEdges))
        .filter(col("a") =!= col("b"))
      val cUnd = contracted.select(col("a").as("u"), col("b").as("v"))
        .unionAll(contracted.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint()
      val merged = Recursive.minLabelPropagate(cUnd)
        .withColumnRenamed("node", "lbl0").withColumnRenamed("lbl", "lbl_final")
      Seq(allNames, cUnd).foreach(Spool.release) // only cUnd's build read them

      // final label: name → old label (or self) → merged label (or same)
      val ents = base.unionAll(delta)
        .groupBy(col("name")).agg(sum(col("n_rows")).cast("bigint").as("n_rows"))
      val labeled = ents
        .join(broadcast(baseLabels.withColumnRenamed("node", "name")), Seq("name"), "left")
        .withColumn("lbl0", coalesce(col("lbl"), col("name")))
        .join(broadcast(merged), Seq("lbl0"), "left")
        .withColumn("cluster", coalesce(col("lbl_final"), col("lbl0")))
      labeled.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_names"), sum(col("n_rows")).cast("bigint").as("n_rows"))
        .groupBy(col("n_names"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("n_rows")).cast("bigint").as("n_rows"),
          min(col("cluster")).as("sample_rep"))
        .orderBy(col("n_names"))
    }
  )

  /** Build-once persisted base-batch state for er02 (the i16
    * materialized-index pattern): yesterday's name census and cluster
    * labels over the base mentions (p_partkey%10≠3), computed by
    * er01's batch pipeline and written to parquet. Built once per SF
    * dir and rebuilt when `part` changes ([[Derived]]); Bench/Prof
    * build it in warmup like any other derived table, so the measured
    * er02 run does only the O(Δ) maintenance work. Returns
    * (censusPath, labelsPath). */
  def ensureBaseState(s: SparkSession, dir: String): (String, String) = {
    val Seq(censusPath, labelsPath) = Derived.onceAll(dir,
        Seq("er02_base_census", "er02_base_labels"), "part") { case Seq(cp, lp) =>
      val base = Tables.df(s, dir, "part")
        .filter(col("p_partkey") % 10 =!= 3)
        .select(lower(col("p_name")).as("name"))
        .groupBy(col("name")).agg(count(lit(1)).as("n_rows"))
        .localCheckpoint()
      def one(key: org.apache.spark.sql.Column) = {
        val a = base.select(col("name").as("a"), key.as("blk"))
        val b = base.select(col("name").as("b"), key.as("blk"))
        a.join(b, Seq("blk")).filter(col("a") < col("b")).select(col("a"), col("b"))
      }
      val cands = one(expr("substring(name, 1, 2)"))
        .unionAll(one(expr("right(name, 2)"))).distinct()
      val edges = cands.filter(expr("levenshtein(a, b, 2) <> -1"))
      val und = edges.select(col("a").as("u"), col("b").as("v"))
        .unionAll(edges.select(col("b").as("u"), col("a").as("v")))
        .localCheckpoint()
      base.write.mode("overwrite").parquet(cp)
      Recursive.minLabelPropagate(und).write.mode("overwrite").parquet(lp)
    }
    (censusPath, labelsPath)
  }

  /** er02's oracle IS er01's from-scratch batch closure — the compare
    * proves incremental ≡ batch. */
  def oracle: Map[String, String] = Map(
    "er02_incremental_clusters" -> """
      WITH RECURSIVE ents AS (
        SELECT lower(p_name) AS name, count(*) AS n_rows
        FROM part GROUP BY name),
      cands AS (
        SELECT a.name AS a, b.name AS b
        FROM ents a JOIN ents b ON substring(a.name, 1, 2) = substring(b.name, 1, 2)
        WHERE a.name < b.name
        UNION
        SELECT a.name, b.name
        FROM ents a JOIN ents b ON right(a.name, 2) = right(b.name, 2)
        WHERE a.name < b.name),
      edges AS (
        SELECT a, b FROM cands WHERE levenshtein(a, b) <= 2),
      und AS (
        SELECT a AS u, b AS v FROM edges
        UNION ALL SELECT b, a FROM edges),
      reach(src, dst) AS (
        SELECT name, name FROM ents
        UNION
        SELECT r.src, e.v FROM reach r JOIN und e ON e.u = r.dst),
      labels AS (
        SELECT src AS name, min(dst) AS cluster FROM reach GROUP BY src),
      clustered AS (
        SELECT l.cluster, count(*) AS n_names,
               CAST(sum(e.n_rows) AS BIGINT) AS n_rows
        FROM ents e JOIN labels l ON e.name = l.name
        GROUP BY l.cluster)
      SELECT n_names, count(*) AS n_clusters,
        CAST(sum(n_rows) AS BIGINT) AS n_rows,
        min(cluster) AS sample_rep
      FROM clustered GROUP BY n_names ORDER BY n_names""",

    "er01_entity_clusters" -> """
      WITH RECURSIVE ents AS (
        SELECT lower(p_name) AS name, count(*) AS n_rows
        FROM part GROUP BY name),
      cands AS (
        SELECT a.name AS a, b.name AS b
        FROM ents a JOIN ents b ON substring(a.name, 1, 2) = substring(b.name, 1, 2)
        WHERE a.name < b.name
        UNION
        SELECT a.name, b.name
        FROM ents a JOIN ents b ON right(a.name, 2) = right(b.name, 2)
        WHERE a.name < b.name),
      edges AS (
        SELECT a, b FROM cands WHERE levenshtein(a, b) <= 2),
      und AS (
        SELECT a AS u, b AS v FROM edges
        UNION ALL SELECT b, a FROM edges),
      reach(src, dst) AS (
        SELECT name, name FROM ents
        UNION
        SELECT r.src, e.v FROM reach r JOIN und e ON e.u = r.dst),
      labels AS (
        SELECT src AS name, min(dst) AS cluster FROM reach GROUP BY src),
      clustered AS (
        SELECT l.cluster, count(*) AS n_names,
               CAST(sum(e.n_rows) AS BIGINT) AS n_rows
        FROM ents e JOIN labels l ON e.name = l.name
        GROUP BY l.cluster)
      SELECT n_names, count(*) AS n_clusters,
        CAST(sum(n_rows) AS BIGINT) AS n_rows,
        min(cluster) AS sample_rep
      FROM clustered GROUP BY n_names ORDER BY n_names"""
  )
}
