package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.MLOps

/** ML relational operators over the embeddings table (reference:
  * analytics/ml classifier/clusterer). */
object Analytics {

  /** The q238 supervised set — distilling the q57 heuristic quality
    * gate into a trainable model (the real curation workflow: replace
    * a hand-written filter with a classifier that can then absorb
    * richer features). Features are the gate's own ratio components;
    * the target is the gate's verdict at threshold 0.36 (≈ corpus
    * median, classes balanced). All codegen'd scalar projections. */
  def qualityTrainingSet(t: Tables): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val toks = TF.tokens(col("text"))
    val nChars = length(col("text")).cast("double")
    val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
      .cast("double")
    val nStop = TF.stopwordHits(toks, TF.langStopwords("en"))
      .cast("double")
    val f1 = least(size(toks).cast("double") / lit(200.0), lit(1.0))
    val f2 = nStop / size(toks).cast("double")
    val f3 = lit(1.0) - nPunct / nChars
    val score = round(f1 * 0.5 + f2 * 0.3 + f3 * 0.2, 6)
    t.documents.select(col("doc_id"),
      array(f1, f2, f3).as("feat"),
      (score >= 0.36).cast("int").as("y"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Rank-2 ALS matrix factorization over supplier x part implicit
    // counts (AlsOps: the classical distributed alternation — each
    // half-step is ONE ratings equi-join + ONE hash aggregate solving
    // independent 2x2 normal equations; nothing is ever all-pairs).
    // Fixed-point micro-unit factors keep every reduction an exact
    // integer sum, so the unrolled-CTE DuckDB oracle reproduces the
    // factors bit-for-bit (the repo's exact-integer discipline).
    "q275_als" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val ratings = t.lineitem
        .groupBy(col("l_suppkey").as("u"), col("l_partkey").as("i"))
        .agg(count(lit(1)).as("r"))
      graft.operators.AlsOps.als(ratings, "u", "i", iters = 2)
        .select(col("u").as("suppkey"), col("n_obs"),
          col("f1").as("f1_micro"), col("f2").as("f2_micro"))
        .orderBy(col("suppkey"))
    },

    // CLUSTERED WITH — deterministic Lloyd k-means (k=8, 3 iterations,
    // lowest-vec_id init). Cluster sizes summarized for stability.
    "q39_kmeans" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      MLOps.kmeans(t.embeddings, k = 8, iters = 3)
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("dist")), 4).as("avg_dist"))
        .orderBy(col("cluster"))
    },

    // Semantic dedup (SemDeDup, Abbas et al. 2023): k-means the
    // embedding corpus, then prune within each cluster any vector
    // whose cosine to a LOWER-id cluster-mate exceeds the threshold —
    // the pairwise work is blocked by cluster, never corpus-wide.
    // At 100 TB k scales with N (k ~ N/5000 keeps clusters bounded,
    // exactly why SemDeDup clusters before comparing); the per-cluster
    // output is a |k|-row summary.
    "q224_semdedup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // scoped cache: read as both pair sides + the summary base
      val asg = graft.operators.CacheScope.scoped(
        MLOps.kmeans(t.embeddings, k = 8, iters = 3)
          .select(col("vec_id"), col("cluster"))
          .join(t.embeddings.select(col("vec_id"), col("embedding")),
            Seq("vec_id")))
      val pruned = asg.as("a").join(asg.as("b"),
          col("a.cluster") === col("b.cluster") &&
          col("a.vec_id") < col("b.vec_id"))
        .where(expr("graft_cosine(a.embedding, b.embedding)") > 0.35)
        .select(col("b.vec_id").as("vec_id")).distinct()
      asg.join(pruned.withColumn("p", lit(1)), Seq("vec_id"), "left")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n"),
          sum(coalesce(col("p"), lit(0))).cast("bigint").as("n_pruned"),
          (count(lit(1)) - sum(coalesce(col("p"), lit(0))))
            .cast("bigint").as("n_kept"))
        .orderBy(col("cluster"))
    },

    // Clustering validity: Davies-Bouldin index over the q39 k-means
    // result — the model-selection statistic (is k right? did the
    // clustering degrade after a feed change?) a production embedding
    // pipeline tracks next to the clustering itself. s_i = mean
    // point-to-centroid distance (fact-scale work = the one assign
    // scan + one aggregate, rounded like q39 so fp order is
    // absorbed); d_ij = the 8x8 centroid-pair distances (bounded,
    // broadcast); r_i = max_j (s_i+s_j)/d_ij and the index is the
    // ordered fold over the 8-row frame — every post-scan step runs
    // on k-row frames.
    "q290_davies_bouldin" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val model = graft.operators.CacheScope.scoped(
        MLOps.kmeansModel(t.embeddings, k = 8, iters = 3))
      val s = MLOps.assign(t.embeddings, model)
        .select(col("c_label"), round(sqrt(col("d2")), 6).as("dist"))
        .groupBy(col("c_label"))
        .agg(count(lit(1)).as("n"), round(avg(col("dist")), 4).as("s"))
      val dd = model.as("i").join(model.as("j"),
          col("i.c_label") =!= col("j.c_label"))
        .select(col("i.c_label").as("ci"), col("j.c_label").as("cj"),
          round(sqrt(expr("graft_dist_sq(i.centroid, j.centroid)")), 6)
            .as("d"))
      val r = dd
        .join(s.select(col("c_label").as("ci"), col("s").as("si")),
          Seq("ci"))
        .join(s.select(col("c_label").as("cj"), col("s").as("sj")),
          Seq("cj"))
        .groupBy(col("ci"))
        .agg(round(max((col("si") + col("sj")) / col("d")), 6).as("r"))
      val out = s.join(r.withColumnRenamed("ci", "c_label"),
        Seq("c_label"))
      val db = out.agg((expr("""aggregate(
          transform(array_sort(collect_list(struct(c_label, r))),
            p -> p.r), 0D, (a, x) -> a + x)""") /
          count(lit(1)).cast("double")).as("dbi"))
        .select(round(col("dbi"), 6).as("db_index"))
      out.crossJoin(broadcast(db))
        .select(col("c_label").cast("int").as("cluster"), col("n"),
          col("s"), col("r"), col("db_index"))
        .orderBy(col("cluster"))
    },

    // CLASSIFIED WITH — nearest-centroid classifier: train on
    // vec_id % 5 != 0, score the held-out fold.
    "q40_classify" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val train = t.embeddings.where(col("vec_id") % 5 =!= 0)
      val test = t.embeddings.where(col("vec_id") % 5 === 0)
      val cents = MLOps.centroids(train, "label")
      MLOps.assign(test, cents)
        .select(col("vec_id"), col("label").as("actual"),
          col("c_label").as("predicted"))
        .withColumn("correct", col("actual") === col("predicted"))
        .orderBy(col("vec_id"))
    },

    // CLASSIFIED, logistic regression — distill the q57 heuristic
    // quality gate into a trained linear filter (the GPT-3-style
    // quality classifier workflow). Standardized features, then
    // full-batch GD with the k-means model discipline: the driver
    // holds only the weight vector, broadcast per round;
    // per-dimension gradients are exact decimal sums (deterministic
    // under any partitioning), 15 rounds = 15 bounded shuffles.
    // Learned weights are float-iterative (no SQL twin), so the
    // driver check is exact per-class counts + the all-true training
    // verdict (loss strictly below the w=0 starting loss ln 2);
    // LogisticSpec pins monotone loss, held-out accuracy ~0.99, and
    // layout-invariance of training.
    "q238_logistic_quality" -> { (spark, dir) =>
      // persist the RAW feature frame across the WHOLE training
      // pipeline: standardize's stats pass, the training loop's
      // persist, the loss probe, and the final class-count action all
      // consume it — without this the tokenize/feature pipeline over
      // documents recomputes per phase. A plain persist here (not
      // CacheScope.scoped yet: the scope drains after the NEXT
      // completed action, and training runs many); ownership is
      // handed to the scope at return so the caller's one consuming
      // action still releases it.
      val raw = Analytics.qualityTrainingSet(Tables(spark, dir)).persist()
      val data = MLOps.standardize(raw, "feat")
      val (w, b) = MLOps.logisticTrain(data, "feat", "y", 15, 5.0)
      val l1 = MLOps.logisticLoss(data, "feat", "y", w, b)
      val decreased = l1 < math.log(2.0)
      graft.operators.CacheScope.scoped(raw)
      data.groupBy(col("y"))
        .agg(count(lit(1)).as("n"))
        .select(col("y"), col("n"), lit(decreased).as("loss_decreased"))
        .orderBy(col("y"))
    },

    // Distributed PCA over the embedding corpus: one-pass Gram
    // accumulation (d² state per task, pairwise merge — no row-level
    // shuffle), driver-side Jacobi eigensolve of the 64×64 covariance,
    // broadcast-literal projection. Hash-checked columns are the exact
    // ones (n, covariance trace via order-free exact-decimal sums);
    // the eigen structure reaches the driver as all-true tolerance
    // verdicts (orthonormality, λ descending, Σλ = trace, Var(proj_k)
    // = λ_k, E[proj_k] = 0) — a broken eigensolver or projection flips
    // a boolean and fails the hash. PcaSpec checks the math on a
    // known-eigenstructure matrix independently.
    "q242_pca" -> { (spark, dir) =>
      graft.operators.PcaOps.diagnostics(
        Tables(spark, dir).embeddings, "embedding", k = 4)
    }
  )

  private def kmAssign(cents: String): String =
    s"""(SELECT vec_id, embedding, c_label, d2 FROM (
       |  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY vec_id
       |    ORDER BY d2, c_label) AS rk FROM (
       |    SELECT t.vec_id, t.embedding, c.c_label,
       |      list_sum(list_transform(list_zip(c.centroid, t.embedding),
       |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
       |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))
       |        AS d2
       |    FROM embeddings t CROSS JOIN $cents c) s) z
       |  WHERE rk = 1)""".stripMargin

  private def kmUpdate(asg: String): String =
    s"""(SELECT c_label, list(cv ORDER BY dim) AS centroid FROM (
       |  SELECT c_label, dim, AVG(v) AS cv FROM (
       |    SELECT c_label, generate_subscripts(embedding, 1) - 1 AS dim,
       |      unnest(embedding) AS v
       |    FROM $asg) GROUP BY c_label, dim) GROUP BY c_label)""".stripMargin

  /** Both operators are oracle-expressible — nearest-centroid directly,
    * and the 3-iteration Lloyd loop as unrolled assign/update CTEs. */
  /** The 2 ALS alternations over lineitem (supplier x part counts)
    * unrolled as DuckDB CTEs: integer Gram/moment sums per entity,
    * ONE exact cast to double per sum, the identical Cramer
    * expression tree, floor(x*1e6 + 0.5) requantize. Ends with the
    * `u2` (user factors) and `y1` (the item factors they were solved
    * from) CTEs — shared by q275 and the recommender statement
    * oracle. */
  private[queries] val alsCtesDuck: String =
      """rt AS (
        |  SELECT l_suppkey AS u, l_partkey AS i,
        |    CAST(COUNT(*) AS BIGINT) AS r
        |  FROM lineitem GROUP BY 1, 2),
        |y0 AS (
        |  SELECT i, CAST(1000000 AS BIGINT) AS f1,
        |    CAST(i * 2654435761 % 1000001 - 500000 AS BIGINT) AS f2
        |  FROM (SELECT DISTINCT i FROM rt)),
        |u1g AS (
        |  SELECT u, COUNT(*) AS n_obs,
        |    CAST(SUM(f1 * f1) AS BIGINT) AS a11,
        |    CAST(SUM(f1 * f2) AS BIGINT) AS a12,
        |    CAST(SUM(f2 * f2) AS BIGINT) AS a22,
        |    CAST(SUM(r * f1) AS BIGINT) AS b1,
        |    CAST(SUM(r * f2) AS BIGINT) AS b2
        |  FROM rt JOIN y0 USING (i) GROUP BY u),
        |u1d AS (
        |  SELECT u, n_obs,
        |    CAST(a11 + 100000000000 AS DOUBLE) / 1e12 AS a11d,
        |    CAST(a12 AS DOUBLE) / 1e12 AS a12d,
        |    CAST(a22 + 100000000000 AS DOUBLE) / 1e12 AS a22d,
        |    CAST(b1 AS DOUBLE) / 1e6 AS b1d,
        |    CAST(b2 AS DOUBLE) / 1e6 AS b2d
        |  FROM u1g),
        |u1 AS (
        |  SELECT u, n_obs,
        |    CAST(FLOOR((b1d * a22d - b2d * a12d)
        |      / (a11d * a22d - a12d * a12d) * 1e6 + 0.5) AS BIGINT) AS f1,
        |    CAST(FLOOR((b2d * a11d - b1d * a12d)
        |      / (a11d * a22d - a12d * a12d) * 1e6 + 0.5) AS BIGINT) AS f2
        |  FROM u1d),
        |y1g AS (
        |  SELECT i, COUNT(*) AS n_obs,
        |    CAST(SUM(f1 * f1) AS BIGINT) AS a11,
        |    CAST(SUM(f1 * f2) AS BIGINT) AS a12,
        |    CAST(SUM(f2 * f2) AS BIGINT) AS a22,
        |    CAST(SUM(r * f1) AS BIGINT) AS b1,
        |    CAST(SUM(r * f2) AS BIGINT) AS b2
        |  FROM rt JOIN u1 USING (u) GROUP BY i),
        |y1d AS (
        |  SELECT i, n_obs,
        |    CAST(a11 + 100000000000 AS DOUBLE) / 1e12 AS a11d,
        |    CAST(a12 AS DOUBLE) / 1e12 AS a12d,
        |    CAST(a22 + 100000000000 AS DOUBLE) / 1e12 AS a22d,
        |    CAST(b1 AS DOUBLE) / 1e6 AS b1d,
        |    CAST(b2 AS DOUBLE) / 1e6 AS b2d
        |  FROM y1g),
        |y1 AS (
        |  SELECT i, n_obs,
        |    CAST(FLOOR((b1d * a22d - b2d * a12d)
        |      / (a11d * a22d - a12d * a12d) * 1e6 + 0.5) AS BIGINT) AS f1,
        |    CAST(FLOOR((b2d * a11d - b1d * a12d)
        |      / (a11d * a22d - a12d * a12d) * 1e6 + 0.5) AS BIGINT) AS f2
        |  FROM y1d),
        |u2g AS (
        |  SELECT u, COUNT(*) AS n_obs,
        |    CAST(SUM(f1 * f1) AS BIGINT) AS a11,
        |    CAST(SUM(f1 * f2) AS BIGINT) AS a12,
        |    CAST(SUM(f2 * f2) AS BIGINT) AS a22,
        |    CAST(SUM(r * f1) AS BIGINT) AS b1,
        |    CAST(SUM(r * f2) AS BIGINT) AS b2
        |  FROM rt JOIN y1 USING (i) GROUP BY u),
        |u2d AS (
        |  SELECT u, n_obs,
        |    CAST(a11 + 100000000000 AS DOUBLE) / 1e12 AS a11d,
        |    CAST(a12 AS DOUBLE) / 1e12 AS a12d,
        |    CAST(a22 + 100000000000 AS DOUBLE) / 1e12 AS a22d,
        |    CAST(b1 AS DOUBLE) / 1e6 AS b1d,
        |    CAST(b2 AS DOUBLE) / 1e6 AS b2d
        |  FROM u2g),
        |u2 AS (
        |  SELECT u, n_obs,
        |    CAST(FLOOR((b1d * a22d - b2d * a12d)
        |      / (a11d * a22d - a12d * a12d) * 1e6 + 0.5) AS BIGINT) AS f1,
        |    CAST(FLOOR((b2d * a11d - b1d * a12d)
        |      / (a11d * a22d - a12d * a12d) * 1e6 + 0.5) AS BIGINT) AS f2
        |  FROM u2d)""".stripMargin

  def oracle: Map[String, String] = Map(
    "q275_als" ->
      ("WITH " + alsCtesDuck + """
        |SELECT u AS suppkey, n_obs, f1 AS f1_micro, f2 AS f2_micro
        |FROM u2 ORDER BY suppkey""".stripMargin),

    // the recommender statement: exact integer micro^2 dot products
    // of user 1's factors against the y1 item factors, top-5 by
    // (score desc, item)
    "q280_recommender_sql" ->
      ("WITH " + alsCtesDuck + """
        |SELECT y1.i AS item,
        |  CAST(u2.f1 * y1.f1 + u2.f2 * y1.f2 AS BIGINT) AS score_micro2
        |FROM u2 CROSS JOIN y1 WHERE u2.u = 1
        |ORDER BY score_micro2 DESC, item LIMIT 5""".stripMargin),

    // exact per-class counts (positive = bottom half of the sorted
    // label set); the training quality reaches the driver as the
    // all-true loss verdict
    // per-class counts of the replicated q57 gate at threshold 0.36
    // (round-6 exact, the q57 parity discipline)
    "q238_logistic_quality" ->
      """WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(text, '\s+') AS toks,
        |    CAST(LENGTH(text) AS DOUBLE) AS n_chars,
        |    CAST(LENGTH(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        |      AS DOUBLE) AS n_punct
        |  FROM documents),
        |s AS (SELECT doc_id,
        |    ROUND(LEAST(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) * 0.5
        |      + CAST(len(list_filter(toks, x -> x IN
        |          ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) * 0.3
        |      + (1.0 - n_punct / n_chars) * 0.2, 6) AS score
        |  FROM t)
        |SELECT CAST(score >= 0.36 AS INT) AS y, COUNT(*) AS n,
        |  TRUE AS loss_decreased
        |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // exact columns replicated (order-free decimal sums for the
    // covariance trace); eigen verdicts are literal true — the Spark
    // side recomputes them from the fitted model
    "q242_pca" ->
      """WITH dims AS (SELECT
        |    unnest(generate_series(0, len(embedding) - 1)) AS i,
        |    unnest(embedding) AS v
        |  FROM embeddings),
        |per AS (SELECT i,
        |    SUM(CAST(ROUND(CAST(v AS DOUBLE), 10) AS DECIMAL(28,10)))
        |      AS s1,
        |    SUM(CAST(ROUND(CAST(v AS DOUBLE) * CAST(v AS DOUBLE), 10)
        |      AS DECIMAL(28,10))) AS s2,
        |    COUNT(*) AS n
        |  FROM dims GROUP BY i),
        |tr AS (SELECT
        |    SUM(CAST(ROUND(CAST(s2 AS DOUBLE) / n
        |      - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n), 8)
        |      AS DECIMAL(28,8))) AS t,
        |    MAX(n) AS n
        |  FROM per)
        |SELECT CAST(k AS INT) AS component, CAST(n AS BIGINT) AS n_vectors,
        |  ROUND(CAST(t AS DOUBLE), 6) AS cov_trace,
        |  TRUE AS orthonormal, TRUE AS eig_descending,
        |  TRUE AS eigsum_matches_trace, TRUE AS proj_var_matches_eigval,
        |  TRUE AS proj_mean_zero
        |FROM tr CROSS JOIN
        |  (SELECT unnest(generate_series(1, 4)) AS k)
        |ORDER BY component""".stripMargin,
    "q39_kmeans" ->
      s"""WITH c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1
         |    AS c_label,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE))
         |      AS centroid
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |a1 AS ${kmAssign("c0")}, c1 AS ${kmUpdate("a1")},
         |a2 AS ${kmAssign("c1")}, c2 AS ${kmUpdate("a2")},
         |a3 AS ${kmAssign("c2")}, c3 AS ${kmUpdate("a3")},
         |a4 AS ${kmAssign("c3")}
         |SELECT CAST(c_label AS INT) AS cluster, COUNT(*) AS n,
         |  ROUND(AVG(ROUND(SQRT(d2), 6)), 4) AS avg_dist
         |FROM a4 GROUP BY c_label ORDER BY cluster""".stripMargin,

    "q224_semdedup" ->
      s"""WITH c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1
         |    AS c_label,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE))
         |      AS centroid
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |a1 AS ${kmAssign("c0")}, c1 AS ${kmUpdate("a1")},
         |a2 AS ${kmAssign("c1")}, c2 AS ${kmUpdate("a2")},
         |a3 AS ${kmAssign("c2")}, c3 AS ${kmUpdate("a3")},
         |a4 AS ${kmAssign("c3")},
         |pr AS (SELECT DISTINCT b.vec_id FROM a4 a JOIN a4 b
         |  ON a.c_label = b.c_label AND a.vec_id < b.vec_id
         |  WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
         |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         |    / (SQRT(list_sum(list_transform(a.embedding,
         |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
         |     * SQRT(list_sum(list_transform(b.embedding,
         |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) > 0.35)
         |SELECT CAST(a.c_label AS INT) AS cluster,
         |  COUNT(*) AS n,
         |  CAST(COUNT(*) FILTER (a.vec_id IN (SELECT vec_id FROM pr))
         |    AS BIGINT) AS n_pruned,
         |  CAST(COUNT(*) - COUNT(*) FILTER
         |    (a.vec_id IN (SELECT vec_id FROM pr)) AS BIGINT) AS n_kept
         |FROM a4 a GROUP BY a.c_label ORDER BY cluster""".stripMargin,

    // same unrolled Lloyd CTEs as q39; validity statistics over the
    // bounded k-row frames, index = the c_label-ordered fold
    "q290_davies_bouldin" ->
      s"""WITH c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1
         |    AS c_label,
         |    list_transform(embedding, v -> CAST(v AS DOUBLE))
         |      AS centroid
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |a1 AS ${kmAssign("c0")}, c1 AS ${kmUpdate("a1")},
         |a2 AS ${kmAssign("c1")}, c2 AS ${kmUpdate("a2")},
         |a3 AS ${kmAssign("c2")}, c3 AS ${kmUpdate("a3")},
         |a4 AS ${kmAssign("c3")},
         |sc AS (SELECT c_label, CAST(COUNT(*) AS BIGINT) AS n,
         |    ROUND(AVG(ROUND(SQRT(d2), 6)), 4) AS s
         |  FROM a4 GROUP BY c_label),
         |dd AS (SELECT i.c_label AS ci, j.c_label AS cj,
         |    ROUND(SQRT(list_sum(list_transform(
         |      list_zip(i.centroid, j.centroid),
         |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
         |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))))), 6)
         |      AS d
         |  FROM c3 i JOIN c3 j ON i.c_label <> j.c_label),
         |rr AS (SELECT ci AS c_label,
         |    ROUND(MAX((si.s + sj.s) / dd.d), 6) AS r
         |  FROM dd JOIN sc si ON dd.ci = si.c_label
         |  JOIN sc sj ON dd.cj = sj.c_label GROUP BY ci),
         |o AS (SELECT sc.c_label, sc.n, sc.s, rr.r
         |  FROM sc JOIN rr ON sc.c_label = rr.c_label),
         |db AS (SELECT ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      LIST(r ORDER BY c_label)), (a, x) -> a + x)
         |    / CAST(COUNT(*) AS DOUBLE), 6) AS db_index FROM o)
         |SELECT CAST(o.c_label AS INT) AS cluster, o.n, o.s, o.r,
         |  db.db_index
         |FROM o CROSS JOIN db ORDER BY cluster""".stripMargin,

    "q40_classify" ->
      """WITH train AS (SELECT * FROM embeddings WHERE vec_id % 5 <> 0),
        |test AS (SELECT * FROM embeddings WHERE vec_id % 5 = 0),
        |expl AS (SELECT label AS c_label,
        |    generate_subscripts(embedding, 1) - 1 AS dim,
        |    unnest(embedding) AS v FROM train),
        |cent AS (SELECT c_label, dim, AVG(v) AS cv FROM expl
        |  GROUP BY c_label, dim),
        |cvec AS (SELECT c_label,
        |    list(cv ORDER BY dim) AS centroid FROM cent GROUP BY c_label),
        |scored AS (SELECT t.vec_id, t.label AS actual, c.c_label,
        |    list_sum(list_transform(list_zip(c.centroid, t.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2
        |  FROM test t CROSS JOIN cvec c),
        |ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
        |    ORDER BY d2, c_label) AS rk FROM scored)
        |SELECT vec_id, actual, c_label AS predicted,
        |  actual = c_label AS correct
        |FROM ranked WHERE rk = 1 ORDER BY vec_id""".stripMargin
  )
}
