package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window


/** ML relational operators (reference: analytics/ml — CLASSIFIED WITH /
  * CLUSTERED WITH / IMPUTED), re-expressed as iterative DataFrame
  * programs: models are tiny DataFrames (k centroids), broadcast into
  * scoring joins; training data never leaves the executors.
  */
object MLOps {

  /** Per-label centroids of an embedding column: explode to
    * (label, dim, v), average, re-assemble ordered arrays. */
  def centroids(df: DataFrame, labelCol: String): DataFrame =
    df.select(col(labelCol).as("c_label"),
      posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("c_label"), col("dim"))
      .agg(avg(col("v")).as("cv"))
      .groupBy(col("c_label"))
      .agg(array_sort(collect_list(struct(col("dim"), col("cv"))))
        .as("_pairs"))
      .select(col("c_label"),
        transform(col("_pairs"), p => p.getField("cv")).as("centroid"))

  /** Nearest-centroid assignment. The model side is k rows by the
    * operator contract (centroids / label means — O(k) independent of
    * corpus size), so it is materialized into a LITERAL array of
    * (label, centroid) structs and scoring is a PURE PROJECTION: per
    * row, argmin over the k (d2, label) structs via the native
    * codegen graft_dist_sq (an interpreted zip_with/aggregate fold
    * here costs ~100x on the vectors-times-k hot path). Zero shuffle
    * and zero join — the 100-TB side streams once through codegen;
    * the earlier crossJoin + min_by groupBy shuffled N*k rows to
    * compute the same argmin. The literal is O(k*dims) doubles (a few
    * KB) — the same driver-resident-model discipline as
    * logisticTrain's weight vector. Tie-break unchanged: struct
    * comparison on (d2, c_label) is min_by's (d2, c_label) order. */
  def assign(vectors: DataFrame, cents: DataFrame): DataFrame = {
    val model = cents
      .select(col("c_label").cast("int"),
        transform(col("centroid"), v => v.cast("double")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val best = array_min(transform(centsLiteral(model), c =>
      struct(
        call_function("graft_dist_sq",
          c.getField("centroid"), col("embedding")).as("d2"),
        c.getField("c_label").as("c_label"))))
    vectors
      .withColumn("_best", best)
      .select(vectors.columns.map(col) :+
        col("_best.c_label").as("c_label") :+
        col("_best.d2").as("d2"): _*)
  }

  /** Classifier-backed imputation (reference analytics/ml/imputer —
    * ImputeResult scores a trained Classifier over rows whose target
    * is missing; ImputeSpec.flagColRefOpt adds the imputed-flag
    * column). The nearest-centroid model scores exactly like
    * [[assign]] — a pure projection over the k-centroid literal, zero
    * shuffle and zero join — but only rows with a NULL target take
    * the predicted label (CASE WHEN short-circuits the argmin for
    * complete rows); complete rows pass through verbatim. The
    * prediction is cast to the target column's own type, and
    * `flagCol` (reference FLAG) marks which rows were filled. */
  def imputeWith(df: DataFrame, colName: String, cents: DataFrame,
      flagCol: Option[String]): DataFrame = {
    val model = cents
      .select(col("c_label").cast("int"),
        transform(col("centroid"), v => v.cast("double")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val best = array_min(transform(centsLiteral(model), c =>
      struct(
        call_function("graft_dist_sq",
          c.getField("centroid"), col("embedding")).as("d2"),
        c.getField("c_label").as("c_label"))))
    val orig = col(colName)
    val dt = df.schema(colName).dataType
    val filled = when(orig.isNull,
      best.getField("c_label").cast(dt)).otherwise(orig).as(colName)
    val cols = df.columns.toSeq
      .map(n => if (n == colName) filled else col(n))
    df.select(flagCol.fold(cols)(f => cols :+ orig.isNull.as(f)): _*)
  }

  /** Categorical-naive-Bayes imputation (the reference imputer's
    * actual shape — analytics/ml/imputer trains a classifier on the
    * table's OWN complete columns, no embedding required): rows with
    * a NULL target train nothing; the add-1-smoothed NB model (q126's
    * exact arithmetic) trains on the complete rows and scores only
    * the DISTINCT feature combos among the holes — the expensive
    * argmax runs on |combos| x |labels| rows, never the fact — then
    * the bounded prediction table broadcasts back onto the input
    * (zero fact shuffle). Features must be low-cardinality
    * categoricals with no NULLs (the NB contract); the target keeps
    * its own type. */
  def imputeBayes(df: DataFrame, targetCol: String,
      features: Seq[String], flagCol: Option[String]): DataFrame = {
    require(features.nonEmpty, "IMPUTE BAYES: no feature columns")
    val t = col(targetCol)
    val dt = df.schema(targetCol).dataType
    val train = df.where(t.isNotNull)
    val total = train.agg(count(lit(1)).as("__n_total"))
    val vocab = train.agg(
      countDistinct(col(features.head)).as(s"__v_${features.head}"),
      features.tail.map(f => countDistinct(col(f)).as(s"__v_$f")): _*)
    val nl = train.groupBy(t.as("__label"))
      .agg(count(lit(1)).as("__n_l"))
    val nfs = features.map { f =>
      f -> train.groupBy(t.as("__label"), col(f))
        .agg(count(lit(1)).as(s"__n_$f"))
    }
    val combos = df.where(t.isNull).select(features.map(col): _*)
      .distinct()
    val joined = nfs.foldLeft(combos.crossJoin(broadcast(nl))) {
      case (acc, (f, nf)) =>
        acc.join(broadcast(nf), Seq("__label", f), "left")
    }.crossJoin(broadcast(total)).crossJoin(broadcast(vocab))
    // q126's exact expression structure (prior + one smoothed
    // likelihood term per feature, all-double casts) — proven
    // hash-identical to the DuckDB derivation there
    val score = features.foldLeft(
      log(col("__n_l").cast("double") / col("__n_total").cast("double"))) {
      case (acc, f) =>
        acc + log(
          (coalesce(col(s"__n_$f"), lit(0L)) + lit(1L)).cast("double") /
            (col("__n_l") + col(s"__v_$f")).cast("double"))
    }
    val w = Window.partitionBy(features.map(col): _*)
      .orderBy(col("__score").desc, col("__label"))
    val pred = joined.withColumn("__score", score)
      .withColumn("__rk", row_number().over(w))
      .where(col("__rk") === 1)
      .select(features.map(col) :+ col("__label").as("__pred"): _*)
    val filled = when(t.isNull, col("__pred").cast(dt)).otherwise(t)
      .as(targetCol)
    val cols = df.columns.toSeq
      .map(n => if (n == targetCol) filled else col(n))
    df.join(broadcast(pred), features, "left")
      .select(flagCol.fold(cols)(f => cols :+ t.isNull.as(f)): _*)
  }

  /** Model row for the literal centroid array (a named case class so
    * typedLit produces struct fields c_label/centroid, not _1/_2). */
  private case class Cent(c_label: Int, centroid: Seq[Double])

  /** The k-row model as a literal array-of-structs column. typedLit
    * (ONE reference-object literal), not an array() of inlined scalar
    * literals: with inlined constants every Lloyd round's generated
    * code is textually different and Janino recompiles it; as a
    * reference object the per-round source is identical and the
    * whole-stage codegen cache hits — recompilation, not arithmetic,
    * dominates small-k model loops. */
  private def centsLiteral(model: Array[(Int, Seq[Double])]): Column =
    typedLit(model.toSeq.map { case (l, c) => Cent(l, c) })

  /** Lloyd k-means: deterministic init (lowest vec_ids), `iters`
    * assign/update rounds. Each round is one shuffle (the centroid
    * update groupBy); the k-centroid model is broadcast — the loop is
    * driver-side control flow over distributed data, never data on the
    * driver. */
  def kmeans(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    // every Lloyd round re-reads the vectors (iters+1 scans of the
    // 100-TB side without this) — cache them once up front
    val vecs = vectors.persist()
    val model = trainKmeans(vecs, k, iters)
    val out = assign(vecs, model)
      .select(col("vec_id"), col("c_label").as("cluster"),
        round(sqrt(col("d2")), 6).as("dist"))
    // training is done (model counted); the input + model caches now
    // only serve the caller's single consuming action — scope them to
    // it so they don't leak into the LRU store
    CacheScope.scoped(vecs)
    CacheScope.scoped(model)
    out
  }

  /** The trained k-means model alone — (c_label, centroid) after
    * `iters` Lloyd rounds — for the named-model registry
    * (GRAFT CREATE CLUSTERER): train once, score many by name. The
    * returned model STAYS cached (it is catalog state, dropped via
    * GRAFT DROP); the training input's cache is released here. */
  def kmeansModel(vectors: DataFrame, k: Int, iters: Int): DataFrame = {
    val vecs = vectors.persist()
    val m = trainKmeans(vecs, k, iters)
    vecs.unpersist(blocking = false) // model materialized; input done
    m
  }

  /** `iters` Lloyd rounds over an already-persisted input; returns the
    * k-row model as a local relation. The model lives on the DRIVER
    * between rounds (the logisticTrain weight-vector discipline — it
    * is O(k*dims) doubles): each round is ONE distributed job — a
    * nearest-label scalar projection (argmin over the k-centroid
    * literal, zero shuffle) feeding ONE hash aggregate of k groups x
    * (count + per-dimension sums) whose k rows come back to the
    * driver. The collect IS the materialization barrier, so there is
    * no per-round persist/count/unpersist churn and no nested
    * lineage. Update identical to the posexplode avg form: double
    * sums of the float elements divided by the member count. */
  private def trainKmeans(vecs: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    // deterministic init: the k lowest vec_ids. A partition-local
    // filter (ids are dense from 0), not a global-sort row_number —
    // the all-rows sort would serialize on one task at corpus scale.
    var model: Array[(Int, Seq[Double])] = vecs
      .where(col("vec_id") < k)
      .select(col("vec_id").cast("int"),
        transform(col("embedding"), v => v.cast("double")))
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val dims = model.head._2.length
    val sums = (0 until dims).map(d =>
      sum(col("embedding").getItem(d).cast("double")).as(s"_s$d"))
    var i = 0
    while (i < iters) {
      val best = array_min(transform(centsLiteral(model), c =>
        struct(
          call_function("graft_dist_sq",
            c.getField("centroid"), col("embedding")).as("d2"),
          c.getField("c_label").as("c_label"))))
      model = vecs
        .select(col("embedding"), best.getField("c_label").as("l"))
        .groupBy(col("l"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
        .map { r =>
          val n = r.getLong(1).toDouble
          (r.getInt(0),
            (0 until dims).map(d => r.getDouble(2 + d) / n): Seq[Double])
        }
        .sortBy(_._1)
      i += 1
    }
    model.toSeq.toDF("c_label", "centroid")
  }

  /** Binary logistic regression by full-batch gradient descent — the
    * canonical quality-classifier shape for training-data curation
    * (a linear filter over document/embedding features). Training is
    * the k-means discipline: the MODEL (65 doubles) lives on the
    * driver and broadcasts into each round; per-round gradients are
    * one posexplode + per-dimension DECIMAL-summed aggregate, so the
    * update is deterministic under any partitioning and each round
    * is one shuffle of |dims| groups. Returns (weights, bias).
    *
    * `target` must be 0/1; features ride in an array column. */
  def logisticTrain(df: DataFrame, featCol: String, targetCol: String,
      iters: Int, lr: Double): (Array[Double], Double) = {
    // few wide rows: coalesce the persisted training frame so each
    // GD round schedules a handful of tasks, not a full shuffle
    // fan-out — the per-round job overhead IS the training cost at
    // this model size (decimal gradient sums are partition-order
    // independent, so the layout change cannot move a single bit)
    val data = df.select(
        transform(col(featCol), x => x.cast("double")).as("x"),
        col(targetCol).cast("double").as("y"))
      .coalesce(8).persist()
    try {
      // one action for both scalars (count also materializes the
      // persisted frame); dims is constant per row, so first() is
      // deterministic here
      val nd = data.agg(count(lit(1)), first(size(col("x")))).head
      require(nd.getLong(0) > 0L, "logisticTrain: the training frame is empty")
      val n = nd.getLong(0).toDouble
      val dims = nd.getInt(1)
      var w = Array.fill(dims)(0.0)
      var b = 0.0
      for (_ <- 1 to iters) {
        // typedLit reference-object literals for BOTH the weight
        // vector and the bias (not inlined scalar constants): the
        // per-round generated code stays textually identical, so the
        // codegen cache hits instead of Janino recompiling 15 times —
        // see centsLiteral.
        val wLit = typedLit(w.toSeq)
        val bLit = typedLit(Seq(b)).getItem(0)
        // residual r = sigmoid(w.x + b) - y, computed per row against
        // the broadcast weight literal
        val scored = data.withColumn("_w", wLit).withColumn("r",
          lit(1.0) / (lit(1.0) +
            exp(-(expr("graft_dot(x, _w)") + bLit)))
            - col("y"))
        // per-dimension gradient + bias in ONE action and ZERO
        // shuffle: a flat global aggregate of dims+1 decimal sums
        // (partials per partition, single-row final) instead of the
        // earlier posexplode + groupBy(i) — decimal addition is
        // exactly associative/commutative, so regrouping the same
        // per-row products cannot move a single bit (and the bias
        // column is r itself: r * 1.0 == r bitwise).
        val gradCols = (0 until dims).map(d =>
          sum((col("r") * col("x").getItem(d)).cast("decimal(38,18)"))
            .cast("double").as(s"_g$d")) :+
          sum(col("r").cast("decimal(38,18)")).cast("double").as("_gb")
        val g = scored.agg(gradCols.head, gradCols.tail: _*).head()
        w = w.indices.map(i => w(i) - lr / n * g.getDouble(i)).toArray
        b = b - lr / n * g.getDouble(dims)
      }
      (w, b)
    } finally data.unpersist(blocking = false)
  }

  /** Standardize an array feature column to zero mean / unit variance
    * per dimension (constant dimensions pass through unscaled). One
    * posexplode aggregate computes the |dims|-row stats model; the
    * transform is a per-row zip against the broadcast mean/std
    * arrays. The GD preconditioning that turns a 100-round crawl into
    * a ~15-round fit. */
  def standardize(df: DataFrame, featCol: String): DataFrame = {
    val stats = df
      .select(posexplode(col(featCol).cast("array<double>"))
        .as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(avg(col("x")).as("mu"),
        coalesce(stddev_pop(col("x")), lit(0.0)).as("sd"))
      .orderBy(col("i")).collect()
    val mu = array(stats.toIndexedSeq.map(r => lit(r.getDouble(1))): _*)
    val sd = array(stats.toIndexedSeq.map { r =>
      val s = r.getDouble(2); lit(if (s == 0.0) 1.0 else s)
    }: _*)
    df.withColumn("_mu", mu).withColumn("_sd", sd)
      .withColumn(featCol, expr(
        s"""zip_with($featCol, zip_with(_mu, _sd, (m, s) ->
           |  struct(m AS m, s AS s)),
           |  (x, ms) -> (CAST(x AS DOUBLE) - ms.m) / ms.s)"""
          .stripMargin))
      .drop("_mu", "_sd")
  }

  /** Mean logistic loss of (w, b) over the data — the training-curve
    * probe (exact decimal sum, deterministic). */
  def logisticLoss(df: DataFrame, featCol: String, targetCol: String,
      w: Array[Double], b: Double): Double = {
    val wLit = array(w.toIndexedSeq.map(lit): _*)
    df.select(transform(col(featCol), x => x.cast("double")).as("x"),
        col(targetCol).cast("double").as("y"))
      .withColumn("_w", wLit)
      .withColumn("z", expr("graft_dot(x, _w)") + lit(b))
      // numerically-stable log(1+e^z) - y*z
      .withColumn("l",
        when(col("z") > 0, col("z") + log(lit(1.0) + exp(-col("z"))))
          .otherwise(log(lit(1.0) + exp(col("z")))) -
          col("y") * col("z"))
      .agg((sum(col("l").cast("decimal(38,18)")).cast("double") /
        count(lit(1)).cast("double")).as("loss"))
      .head.getDouble(0)
  }

  /** IMPUTED (reference sql/parser IMPUTED clause): fill nulls in
    * `valueCol` with the per-key mean. Adds `<col>_was_missing` and
    * `<col>_imputed`; one window pass per key. */
  def imputeMean(
      df: DataFrame, valueCol: String, keyCols: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
    df.withColumn(s"${valueCol}_was_missing", col(valueCol).isNull)
      .withColumn(s"${valueCol}_imputed",
        coalesce(col(valueCol), avg(col(valueCol)).over(w)))
  }

  /** TYPEINFER (reference analytics/infer): vote on the type of every
    * STRING column by try-cast counts over the whole column. Integer
    * detection is a regex, not try_cast — engines disagree on whether
    * '87.5' casts to INT (q41's documented rationale). */
  def inferTypes(df: DataFrame): DataFrame = {
    val strCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    require(strCols.nonEmpty, "inferTypes: no string columns")
    // ONE aggregation pass computes every column's counters side by
    // side (a union of per-column df.agg would re-scan the table once
    // per string column); the single counter row then unstacks into
    // one row per column — driver-free, |cols|x4 aggregate state.
    val aggs = strCols.flatMap { c => Seq(
      count(col(c)).as(s"${c}__n"),
      count(when(col(c).rlike("^-?[0-9]+$"), 1)).as(s"${c}__i"),
      count(expr(s"try_cast(`$c` AS DOUBLE)")).as(s"${c}__d"),
      count(expr(s"try_cast(`$c` AS DATE)")).as(s"${c}__t"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(strCols.map { c =>
        struct(lit(c).as("col_name"),
          col(s"${c}__n").as("n_nonnull"),
          col(s"${c}__i").as("n_int"),
          col(s"${c}__d").as("n_double"),
          col(s"${c}__t").as("n_date"))
      }: _*)).as("s"))
      .select(col("s.*"))
      .withColumn("inferred",
        when(col("n_int") === col("n_nonnull"), "int")
          .when(col("n_double") === col("n_nonnull"), "double")
          .when(col("n_date") === col("n_nonnull"), "date")
          .otherwise("string"))
  }

  /** TYPEINFER in the reference's ACTUAL semantics (analytics/
    * inferTypes/datatypes/InferTypesTableResult.scala — sclera
    * returns the TABLE with columns CAST to the inferred types, not
    * a report): every string column whose non-null values all parse
    * as integer / double / date comes back cast (integers as BIGINT
    * — the scale-safe lane), custom `nulls` markers (trimmed match,
    * as the reference) become SQL NULL first, and `lookAhead` bounds
    * the inference scan to the first n rows (the reference's
    * LIMIT lookahead) while the CAST still applies to every row.
    *
    * Scale shape: inference is ONE counter aggregate (on the
    * lookahead slice if given); the collected decision is
    * |string columns| wide — model-sized, the driver-held-model
    * pattern — and the result is a pure projection over the input.
    */
  def castInferred(df: DataFrame, nulls: Seq[String] = Nil,
      lookAhead: Option[Int] = None): DataFrame = {
    val strCols = df.schema.fields
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name).toSeq
    if (strCols.isEmpty) return df
    def cleaned(c: String) =
      if (nulls.isEmpty) col(c)
      else when(trim(col(c)).isin(nulls.map(_.trim): _*), lit(null))
        .otherwise(col(c))
    val sample = lookAhead.map(df.limit).getOrElse(df)
    val aggs = strCols.flatMap { c =>
      val v = cleaned(c)
      Seq(
        count(v).as(s"${c}__n"),
        // integer lane: the shape regex AND a successful BIGINT parse
        // — the regex alone would classify a 20+-digit column as
        // bigint and then try_cast every value to NULL (silent total
        // data loss); gating on try_cast makes overflow fall through
        // to the double/string lanes
        count(when(v.rlike("^\\s*-?[0-9]+\\s*$") &&
          expr(s"try_cast(`$c` AS BIGINT)").isNotNull, 1))
          .as(s"${c}__i"),
        count(when(expr(s"try_cast(`$c` AS DOUBLE)").isNotNull &&
          v.isNotNull, 1)).as(s"${c}__d"),
        count(when(expr(s"try_cast(`$c` AS DATE)").isNotNull &&
          v.isNotNull, 1)).as(s"${c}__t"))
    }
    // 1-row, |cols|x4-wide decision frame: model-sized driver hold
    val r = sample.agg(aggs.head, aggs.tail: _*).head()
    val decided: Map[String, String] = strCols.flatMap { c =>
      val n = r.getAs[Long](s"${c}__n")
      if (n == 0L) None
      else if (r.getAs[Long](s"${c}__i") == n) Some(c -> "bigint")
      else if (r.getAs[Long](s"${c}__d") == n) Some(c -> "double")
      else if (r.getAs[Long](s"${c}__t") == n) Some(c -> "date")
      else None
    }.toMap
    df.select(df.schema.fieldNames.map { c =>
      decided.get(c) match {
        // try_cast: with a LIMIT lookahead the cast applies to rows
        // the inference never saw — a malformed tail value becomes
        // NULL (the tolerant contract), not an ANSI runtime error
        case Some(t) => cleaned(c).try_cast(t).as(c)
        case None if strCols.contains(c) && nulls.nonEmpty =>
          cleaned(c).as(c)
        case None => col(c)
      }
    }: _*)
  }
}
