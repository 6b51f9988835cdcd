package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.{TextFunctions => TF, VectorFunctions => VF}
import graft.operators.DedupOps

/** LLM training-data pipeline operators (SURVEY.md §2, beyond the
  * reference's own surface): dedup family, similarity search, text
  * analysis, multimodal column plumbing. Quadratic problems are always
  * bucketed/blocked before pair generation — the shapes that survive a
  * 100 TB corpus.
  */
object Pipeline {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Matryoshka embedding truncation (Kusupati et al. 2022,
    // "Matryoshka Representation Learning" — serve a prefix of the
    // embedding at lower cost): keep the first 16 of 64 dims,
    // renormalize to unit L2. Per-row array folds in fixed index
    // order (deterministic doubles, no shuffle anywhere); the
    // unit-norm property of the renormalized vector reaches the
    // driver as an all-true verdict.
    "q236_matryoshka" -> { (spark, dir) =>
      Tables(spark, dir).embeddings
        .select(col("vec_id"), expr("slice(embedding, 1, 16)").as("tr"))
        .withColumn("ss", expr(
          """aggregate(tr, CAST(0 AS DOUBLE),
            |  (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"""
            .stripMargin))
        .select(col("vec_id"),
          round(expr("CAST(element_at(tr, 1) AS DOUBLE)"), 6).as("d1"),
          round(expr("CAST(element_at(tr, 2) AS DOUBLE)"), 6).as("d2"),
          round(sqrt(col("ss")), 6).as("norm16"),
          (abs(expr(
            """aggregate(tr, CAST(0 AS DOUBLE), (a, x) ->
              |  a + (CAST(x AS DOUBLE) / sqrt(ss)) *
              |      (CAST(x AS DOUBLE) / sqrt(ss)))""".stripMargin)
            - lit(1.0)) < 1e-9).as("unit_norm"))
        .orderBy(col("vec_id"))
    },

    // Deterministic training-order shuffle: every training run needs
    // the same global pseudo-random order on any engine/cluster —
    // shard = portable fingerprint mod 8, order within shard by
    // (fingerprint, doc_id). The per-shard sort is the training-file
    // write order and parallelizes across shards; nothing global
    // sorts the corpus.
    "q237_training_order" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val d = t.documents.select(col("doc_id"),
          expr("graft_fingerprint(CAST(doc_id AS STRING))").as("fp"))
        .withColumn("shard", pmod(col("fp"), lit(8L)))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("fp"), col("doc_id"))
      d.select(col("doc_id"), col("shard"),
          row_number().over(w).as("pos"))
        .orderBy(col("shard"), col("pos"))
    },

    // Exact dedup after canonicalization (sorted distinct token set) —
    // catches the word-order-shuffled duplicates exactly.
    "q48_dedup_exact" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents
        .withColumn("canon",
          array_join(array_sort(TF.tokenSet(col("text"))), " "))
        .groupBy(md5(col("canon")).as("canon_md5"))
        .agg(min(col("doc_id")).as("keeper_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("canon_md5"))
    },

    // MinHash + LSH near-dup: 32 hashes, 8 bands of 4, candidates from
    // band-bucket join, verified by exact token-set Jaccard.
    "q49_dedup_minhash" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // persist: the signature table feeds the bucket-count prune and
      // both sides of the pair join — without it the 32-hash signature
      // subtree is recomputed per consumer
      val sigs = graft.operators.CacheScope.scoped(
        DedupOps.minhashSignature(t.documents, "text", k = 32))
      val cands = DedupOps.minhashCandidates(sigs, "doc_id", k = 32, bands = 8)
      DedupOps.verifyJaccard(cands, t.documents, "doc_id", "text")
        .where(col("jaccard") >= 0.6)
        .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6)
          .as("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // CROSS-corpus near-dup (incremental crawl ingestion: a NEW shard
    // deduped against the EXISTING cleaned corpus — the 100-TB shape
    // where the old side's banded signatures are a persisted
    // metadata-scale artifact and each incoming shard pays only its
    // own join): candidate pairs only ACROSS sides (never within),
    // bucket cap on the combined population, exact Jaccard verify.
    "q438_cross_dedup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val newDocs = t.documents.where(col("doc_id") % 5 === 0)
      val oldDocs = t.documents.where(col("doc_id") % 5 =!= 0)
      val newSigs = graft.operators.CacheScope.scoped(
        DedupOps.minhashSignature(newDocs, "text", k = 32))
      val oldSigs = graft.operators.CacheScope.scoped(
        DedupOps.minhashSignature(oldDocs, "text", k = 32))
      val cands = DedupOps.crossMinhashCandidates(
        newSigs, oldSigs, "doc_id", k = 32, bands = 8)
        .select(col("doc_new").as("doc_a"), col("doc_old").as("doc_b"))
      DedupOps.verifyJaccard(cands, t.documents, "doc_id", "text")
        .where(col("jaccard") >= 0.6)
        .select(col("doc_a").as("doc_new"), col("doc_b").as("doc_old"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("doc_new"), col("doc_old"))
    },

    // SimHash near-dup: 64-bit signatures, 16-bit chunk banding,
    // exact hamming verification.
    "q50_dedup_simhash" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val hashed = graft.operators.CacheScope.scoped(
        DedupOps.simhash(t.documents, "doc_id", "text"))
      DedupOps.simhashPairs(hashed, "doc_id", maxHamming = 8)
        .orderBy(col("hamming"), col("doc_a"), col("doc_b"))
        .limit(100)
    },

    // Word-bigram Jaccard near-dup with length-block candidate
    // generation (blocks bound the pair count at scale).
    "q51_ngram_jaccard" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // Inverted-index intersection: explode (block, doc, bigram-hash)
      // postings, self-join on (block, hash), count shared hashes per
      // pair — ONLY pairs with a common bigram ever materialize, and
      // the shuffle carries scalar postings instead of shipping both
      // full shingle arrays to all O(block^2) pairs (the all-pairs
      // array join moved ~1 GB at sf0.1; this moves the postings).
      // Bigrams are hashed to longs with the portable polynomial hash
      // (collisions over ~10^3 distinct bigrams are negligible and the
      // oracle hashes identically). |A∪B| = |A|+|B|-|A∩B|. Zero-
      // intersection pairs never materialize here, and the oracle
      // filters them out the same way (WHERE intersect > 0), so the
      // two sides agree at any scale.
      val d = graft.operators.CacheScope.scoped(t.documents.select(
        col("doc_id"),
        expr("n_chars div 10").as("blk"),
        // native one-pass shingle hashing — value-identical to
        // transform(shingles, s -> graft_fingerprint(s)) but without
        // materializing shingle strings or interpreted lambdas (the
        // signature build was ~80% of this query's time)
        array_distinct(expr("graft_shingle_hashes(text, 2)")).as("bg")))
      // postings carry the doc's set size so |A|,|B| ride the pair
      // shuffle as two ints instead of two post-aggregate joins back
      // to a sizes frame (every pair row has the same n per side, so
      // first() is exact)
      val posts = d.select(col("blk"), col("doc_id"),
        size(col("bg")).as("n"), explode(col("bg")).as("h"))
      posts.alias("a")
        .join(posts.alias("b"),
          col("a.blk") === col("b.blk") && col("a.h") === col("b.h") &&
            col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).cast("double").as("inter"),
          first(col("a.n")).as("na"), first(col("b.n")).as("nb"))
        .withColumn("jac",
          col("inter") / (col("na") + col("nb") - col("inter")))
        .select(col("doc_a"), col("doc_b"), round(col("jac"), 6).as("jac"))
        .orderBy(col("jac").desc, col("doc_a"), col("doc_b"))
        .limit(50)
    },

    // Prefix-filtered EXACT similarity self-join (PPJoin-style): every
    // pair with bigram-set Jaccard >= 4/5, no false negatives — the
    // exact complement to the probabilistic minhash/simhash paths.
    // The oracle is deliberately brute-force all-pairs: if the prefix
    // filter dropped a qualifying pair, the gate would catch it.
    "q199_ppjoin" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      DedupOps.prefixJaccardJoin(t.documents, "doc_id", "text", 4, 5)
        .select(col("doc_a"), col("doc_b"),
          round(col("jaccard"), 6).as("jac"))
        .orderBy(col("doc_a"), col("doc_b"))
    },

    // Embedding-cosine near-dup pairs, LSH-blocked: pairs generate
    // only inside (label, hyperplane-bucket) blocks with a bounded
    // block size — never the quadratic all-pairs within a label.
    "q52_embed_dedup" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      DedupOps.materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("label"), col("vec_a"), col("vec_b"),
          round(col("cos"), 6).as("cos"))
        .orderBy(col("label"), col("vec_a"), col("vec_b"))
    },

    // Dedup clusters: connected components over the embedding-cosine
    // near-dup pair graph (q52's edges) — pairwise hits become whole
    // clusters keyed by the minimum reachable vec_id, the form a
    // curation pipeline actually consumes (keep one doc per comp).
    // Min-label propagation: O(cluster diameter) shuffles, each on
    // node id — corpus-size-independent round count (DedupOps
    // .connectedComponents scaladoc has the large-star/small-star
    // reference for adversarial graphs).
    "q99_dedup_clusters" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val pairs = DedupOps.materializedCosinePairs(spark, dir, 4, 0.3)
        .select(col("vec_a"), col("vec_b"))
      val comp = DedupOps.connectedComponents(pairs, "vec_a", "vec_b")
      comp.select(col("node").as("vec_id"), col("comp"),
          count(lit(1)).over(Window.partitionBy(col("comp")))
            .as("cluster_n"))
        .orderBy(col("vec_id"))
    },

    // Brute-force cosine top-k against a fixed query vector — the
    // exact baseline for ANN. TakeOrdered: per-partition top-k then
    // merge, never a full sort.
    "q53_cosine_topk" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val q = t.embeddings.where(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      t.embeddings.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("cos", expr("graft_cosine(embedding, qe)"))
        .select(col("vec_id"), col("label"), round(col("cos"), 6).as("cos"))
        .orderBy(col("cos").desc, col("vec_id"))
        .limit(20)
    },

    // LSH-bucketed ANN: random-hyperplane buckets (4 planes),
    // MULTI-PROBE — each query probes its own bucket plus the 4
    // Hamming-1 neighbors (one sign bit flipped), the standard
    // recall lever that probes 5/16 of the corpus instead of 1/16
    // without growing the index (measured: recall@5 0.14 -> ~0.6 on
    // the spec's corpus; AnnRecallSpec). The per-query funnel is
    // graft_topk_by — k rows of aggregate state per query, map-side
    // combined — NOT a row_number window, which would shuffle every
    // candidate row into one task per query and sort it there.
    "q54_ann_lsh" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val bucketed = t.embeddings
        .withColumn("bucket", VF.hyperplaneBucket(col("embedding"), 4))
      val queries = bucketed.where(col("vec_id") < 10)
        .select(col("bucket").as("qb"), col("vec_id").as("q_id"),
          col("embedding").as("qe"))
        .select(col("q_id"), col("qe"), explode(array(
          col("qb"), col("qb").bitwiseXOR(1), col("qb").bitwiseXOR(2),
          col("qb").bitwiseXOR(4), col("qb").bitwiseXOR(8)))
          .as("bucket"))
      bucketed.join(queries, Seq("bucket"))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("graft_cosine(embedding, qe)"))
        .groupBy(col("q_id"))
        .agg(expr("graft_topk_by(cos, vec_id, vec_id, 5)").as("top"))
        .select(col("q_id"), posexplode(col("top")))
        .select(col("q_id"), col("col.tie").as("vec_id"),
          round(col("col.score"), 6).as("cos"),
          (col("pos") + 1).cast("int").as("rk"))
        .orderBy(col("q_id"), col("rk"))
    },

    // Multi-query brute-force cosine top-k: the EXACT baseline the
    // LSH (q54) and IVF (q101) paths approximate — every query
    // against the whole corpus, funneled through the bounded
    // graft_topk_by aggregate. At 100 TB this is the one-off recall
    // -measurement job (cost |corpus| x |queries|), not the serving
    // path; the broadcast query set keeps the corpus scan single-pass.
    "q196_bruteforce_topk" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val queries = t.embeddings.where(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"))
      t.embeddings.crossJoin(broadcast(queries))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("graft_cosine(embedding, qe)"))
        .groupBy(col("q_id"))
        .agg(expr("graft_topk_by(cos, vec_id, vec_id, 5)").as("top"))
        .select(col("q_id"), posexplode(col("top")))
        .select(col("q_id"), col("col.tie").as("vec_id"),
          round(col("col.score"), 6).as("cos"),
          (col("pos") + 1).cast("int").as("rk"))
        .orderBy(col("q_id"), col("rk"))
    },

    // IVF ANN: the classic inverted-file index as a relational plan.
    // Coarse quantizer = nlist fixed centroids (deterministic: the
    // first nlist vectors); every corpus vector joins its single
    // nearest list (min_by aggregation — map-side partials, no
    // corpus-wide window); each query probes its nprobe nearest
    // lists. The corpus streams once against the BROADCAST query set
    // — at 100 TB the scan cost is |corpus| * nprobe/nlist, the IVF
    // recall/speed dial.
    //
    // Cost-based sizing: nlist = ceil(sqrt(N)) balances quantizer
    // cost (N*nlist) against per-probe list length (N/nlist) — the
    // standard IVF heuristic; nprobe = max(2, nlist/4) holds the
    // probed corpus fraction (~25%) constant as N grows, so recall
    // stays stable across scales instead of collapsing when a fixed
    // nlist meets a bigger corpus. N comes from one count() — a
    // metadata-cheap planning scalar, not a data pass.
    "q101_ann_ivf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val e = t.embeddings
      val nlist = math.ceil(math.sqrt(e.count().toDouble)).toInt
      val nprobe = math.max(2, math.ceil(nlist / 4.0).toInt)
      val cents = e.where(col("vec_id") < nlist)
        .select(col("vec_id").cast("int").as("c_id"),
          transform(col("embedding"), v => v.cast("double")).as("centroid"))
      val lists = e.crossJoin(broadcast(cents))
        .withColumn("d2", expr("graft_dist_sq(centroid, embedding)"))
        .groupBy(col("vec_id"))
        .agg(min_by(struct(col("c_id"), col("embedding")),
          struct(col("d2"), col("c_id"))).as("_b"))
        .select(col("_b.c_id").as("c_id"), col("vec_id"),
          col("_b.embedding").as("embedding"))
      // nprobe nearest lists per query: bounded top-k aggregate on
      // -d2 (asc distance), not a window — no per-query sort task.
      val qranked = e.where(col("vec_id") < 10)
        .crossJoin(broadcast(cents))
        .withColumn("d2", expr("graft_dist_sq(centroid, embedding)"))
        .groupBy(col("vec_id"), col("embedding"))
        .agg(expr(s"graft_topk_by(-d2, c_id, c_id, $nprobe)").as("top"))
        .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
          explode(col("top.tie")).as("c_id_l"))
        .select(col("c_id_l").cast("int").as("c_id"), col("q_id"),
          col("qe"))
      lists.join(broadcast(qranked), Seq("c_id"))
        .where(col("vec_id") =!= col("q_id"))
        .withColumn("cos", expr("graft_cosine(embedding, qe)"))
        .groupBy(col("q_id"))
        .agg(expr("graft_topk_by(cos, vec_id, vec_id, 5)").as("top"))
        .select(col("q_id"), posexplode(col("top")))
        .select(col("q_id"), col("col.tie").as("vec_id"),
          round(col("col.score"), 6).as("cos"),
          (col("pos") + 1).cast("int").as("rk"))
        .orderBy(col("q_id"), col("rk"))
    },

    // Product-quantization ANN (Jégou et al. 2011): corpus compressed
    // to M=4 codes/vector (deterministic per-subspace codebooks), ADC
    // candidate funnel over the compressed codes, exact-cosine re-rank
    // of the survivors. See operators/PqOps for the scale story.
    "q240_ann_pq" -> { (spark, dir) =>
      graft.operators.PqOps.search(Tables(spark, dir).embeddings,
        m = 4, ks = 16, dim = 64, nQueries = 10, nCandidates = 20, k = 5)
    },

    // Asymmetric containment join (template / subset-duplication
    // detection): C(A→B) = |A∩B| / |A| over word-bigram shingles,
    // θ = 0.8. Candidate generation is the containment PREFIX filter
    // (Chaudhuri et al. 2006 SSJoin): if B contains ≥ θ|A| of A's
    // shingles then at most |A|-⌈θ|A|⌉ ≤ ⌊|A|/5⌋ are missing, so A
    // must share one of its ⌊|A|/5⌋+1 lowest-df shingles with B —
    // only those postings index the A side (B side indexes fully).
    // The df ordering minimizes candidates but ANY prefix of that
    // size is correct (pigeonhole), so the result is exact and
    // engine-independent; the oracle is brute-force all-pairs.
    // Verification is the native sorted-merge intersect on the
    // numerically sorted arrays — candidates ship scalar postings,
    // never array-pairs, and zero-candidate pairs never materialize.
    "q243_containment" -> { (spark, dir) =>
      graft.operators.DedupOps.containmentJoin(
        Tables(spark, dir).documents, "doc_id", "text", num = 4, den = 5)
    },

    // CCNet-style perplexity bucketing (Wenzek et al. 2020): a bigram
    // LM with Jelinek-Mercer interpolation (λ=0.7) trained on the
    // corpus itself scores every document by average NLL, and docs
    // split into head/middle/tail perplexity terciles — the quality
    // partition CCNet feeds to the downstream filter. Scale shape: LM
    // "training" is two token-level aggregations (map-side combined);
    // scoring joins on token keys stay distributed (no broadcast of
    // the vocabulary); the per-doc fold is ordered (pos-sorted) so the
    // double sum is reproducible; the tercile split is the q147
    // distributed-rank shape (range repartition + per-partition
    // offsets), not a single-partition ranking window.
    "q241_perplexity_buckets" -> { (spark, dir) =>
      graft.operators.LmOps.perplexityBuckets(
        Tables(spark, dir).documents, "doc_id", "text")
    },

    // Language ID via function-word heuristic.
    "q55_langid" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents.select(
        col("doc_id"), col("lang"),
        TF.langId(col("text")).as("predicted"))
        .withColumn("correct", col("predicted") === col("lang"))
        .orderBy(col("doc_id"))
    },

    // Quality scoring: length/punct/digit/stopword ratios + combined
    // score, all codegen'd scalar expressions.
    "q57_quality_score" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val toks = TF.tokens(col("text"))
      val nChars = length(col("text")).cast("double")
      val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
        .cast("double")
      val nDigit = length(regexp_replace(col("text"), "[^0-9]", ""))
        .cast("double")
      val nStop = TF.stopwordHits(toks, TF.langStopwords("en")).cast("double")
      t.documents.select(
        col("doc_id"),
        size(toks).as("n_tokens"),
        round(nChars / size(toks).cast("double"), 6).as("avg_tok_len"),
        round(nPunct / nChars, 6).as("punct_ratio"),
        round(nDigit / nChars, 6).as("digit_ratio"),
        round(nStop / size(toks).cast("double"), 6).as("stop_ratio"),
        round(
          least(size(toks).cast("double") / lit(200.0), lit(1.0)) * 0.5
            + (nStop / size(toks).cast("double")) * 0.3
            + (lit(1.0) - nPunct / nChars) * 0.2, 6).as("quality"))
        .orderBy(col("doc_id"))
    },

    // Token counting: whitespace, BPE-ish regex, and char/4 estimate.
    "q58_token_count" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents.select(
        col("doc_id"),
        size(TF.tokens(col("text"))).as("n_ws"),
        size(TF.regexTokens(col("text"))).as("n_regex"),
        TF.bpeTokenEstimate(col("text")).as("n_bpe_est"))
        .orderBy(col("doc_id"))
    },

    // Polynomial rolling-hash document fingerprint (exact integer fold
    // — engine-portable, oracle-checked).
    "q59_fingerprint" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.documents.select(
        col("doc_id"),
        expr("graft_fingerprint(text)").as("fp"))
        .orderBy(col("doc_id"))
    },

    // End-to-end training-data pipeline: exact-dedup (keep lowest
    // doc_id per canonical token set) -> quality gate -> language
    // filter -> per-source token accounting. One declarative plan —
    // Catalyst fuses the whole chain.
    "q70_pipeline_e2e" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // tokenize ONCE: every downstream stage (canon, quality's three
      // uses, 5-language langId, token totals) reads the projected
      // array column. The alias survives because CollapseProject does
      // not inline a non-cheap expression referenced multiple times,
      // and the window boundary blocks predicate substitution — so
      // split() runs once per row instead of ~8x.
      val toks = col("toks")
      val nChars = length(col("text")).cast("double")
      val nPunct = length(regexp_replace(col("text"), "[^.!?,;:]", ""))
        .cast("double")
      val nStop = TF.stopwordHits(toks, TF.langStopwords("en")).cast("double")
      val quality =
        least(size(toks).cast("double") / lit(200.0), lit(1.0)) * 0.5 +
          (nStop / size(toks).cast("double")) * 0.3 +
          (lit(1.0) - nPunct / nChars) * 0.2
      val w = Window.partitionBy(col("canon"))
      t.documents
        .withColumn("toks", TF.tokens(col("text")))
        .withColumn("canon",
          md5(array_join(array_sort(array_distinct(toks)), " ")))
        .withColumn("keeper", min(col("doc_id")).over(w))
        .where(col("doc_id") === col("keeper"))
        .withColumn("q", quality)
        .where(col("q") >= 0.3)
        .where(TF.langIdFromTokens(toks) === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(size(toks).cast("long")).as("total_tokens"),
          round(avg(col("q")), 6).as("avg_quality"))
        .orderBy(col("source"))
    },

    // Multimodal column plumbing: text payload as opaque binary with
    // typed metadata; "decode" is a deterministic stub (no media libs
    // in this container) — the schema/partition/batch shape is real.
    // Multimodal columns with a REAL decode: each document carries a
    // genuine 24bpp BMP payload (synthesized deterministically from
    // doc attributes — see sources/Multimodal), and the features are
    // what the partition-wise decoder actually parses out of the
    // binary: header dimensions + pixel-walk channel means (stride,
    // padding, BGR order, bottom-up rows all exercised for real). The
    // oracle recomputes the same values from the synthesis gradients'
    // closed forms — any decoder bug breaks the hash.
    // Perceptual image dedup over the BMP media column: the classic
    // 8x8 average-hash (aHash) computed from the ACTUAL decoded
    // pixels (integer box sums, global-mean threshold by exact
    // cross-multiplication — no division, no floats), then exact-hash
    // clustering. aHash is brightness-offset invariant by
    // construction, so images differing only in the synthesis color
    // offsets (r0/g0/b0) collapse into one cluster — which the oracle
    // proves by recomputing every hash in CLOSED FORM from the
    // gradient parameters: any decode / stride / box-bound bug breaks
    // the match. Shape: partition-wise map (no shuffle) + ONE hash
    // aggregate; at 100 TB identical-hash groups are the only fan-in
    // and they arrive pre-counted.
    "q278_image_ahash" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      import spark.implicits._
      graft.sources.Multimodal.asMediaTable(t.documents)
        .map(r => (r.doc_id, graft.sources.Multimodal.aHash64(r.payload)))
        .toDF("doc_id", "ahash")
        .groupBy(col("ahash"))
        .agg(count(lit(1)).as("n_images"), min(col("doc_id")).as("first_doc"))
        .orderBy(col("ahash"))
    },

    "q60_multimodal" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.sources.Multimodal
        .extractFeatures(graft.sources.Multimodal.asMediaTable(t.documents))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"),
          col("meta_lang"))
        .orderBy(col("doc_id"))
    },

    // Audio half of the multimodal family: genuine 16-bit PCM mono WAV
    // payloads (RIFF chunk-walk decoder — see sources/Audio) with
    // signal statistics folded from the actual samples. The synthesis
    // sawtooth gives every statistic a closed form the oracle
    // recomputes from doc_id alone; a chunk-walk / endianness /
    // sign-extension bug in the decoder breaks the hash.
    "q239_audio_decode" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.sources.Audio
        .extractFeatures(graft.sources.Audio.asAudioTable(t.documents))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("sample_rate"),
          col("n_samples"), round(col("duration_ms"), 3).as("duration_ms"),
          round(col("mean_amp"), 6).as("mean_amp"),
          round(col("rms"), 6).as("rms"),
          col("peak"), col("zero_cross"), col("meta_lang"))
        .orderBy(col("doc_id"))
    },

    // Video third of the multimodal family: genuine YUV4MPEG2 streams
    // (ASCII header + FRAME-marked planar C444 frames — see
    // sources/Video) decoded by real container walking; per-stream
    // stats include inter-frame motion energy (mean |ΔY|). Synthesis
    // closed forms make every statistic oracle-computable from doc_id;
    // a header-parse / frame-walk / plane-stride bug breaks the hash.
    "q244_video_decode" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      graft.sources.Video
        .extractFeatures(graft.sources.Video.asVideoTable(t.documents))
        .toDF()
        .select(col("doc_id"), col("n_bytes"), col("width"), col("height"),
          col("n_frames"), col("fps"),
          round(col("duration_ms"), 3).as("duration_ms"),
          round(col("mean_luma_first"), 6).as("mean_luma_first"),
          round(col("mean_luma_last"), 6).as("mean_luma_last"),
          round(col("motion_energy"), 6).as("motion_energy"),
          col("meta_lang"))
        .orderBy(col("doc_id"))
    },

    // BM25 ranked retrieval (Okapi k1=1.2, b=0.75) for a fixed query
    // term set — see operators/TextSearchOps for the plan shape and
    // scale notes. Also fronted by GRAFT SEARCH (q221_search_sql).
    "q219_bm25" -> { (spark, dir) =>
      graft.operators.TextSearchOps.bm25(
        Tables(spark, dir).documents, "doc_id", "text",
        Seq("hash", "merge", "scan"), k = 10)
    },

    // Query-likelihood retrieval with Dirichlet smoothing (Ponte &
    // Croft 1998; Zhai & Lafferty 2001) — the language-modeling
    // counterpart of q219's BM25 over the same query, sharing its
    // zero-token-shuffle shape: per-term tfs off ONE tokenize, 1-row
    // corpus stats broadcast (total tokens + per-term collection
    // frequencies), ALL query terms scored per candidate in fixed
    // term order, bounded top-k funnel. Same plan discipline, second
    // classical ranking function.
    "q317_query_likelihood" -> { (spark, dir) =>
      graft.operators.TextSearchOps.queryLikelihood(
        Tables(spark, dir).documents, "doc_id", "text",
        Seq("hash", "merge", "scan"), k = 10)
    },

    // RETRIEVAL-AGREEMENT diagnostics: rank-biased overlap (Webber,
    // Moffat & Zobel 2010, truncated at depth 10, persistence p=0.5 —
    // chosen so every weight 0.5^(d-1) is IEEE-exact and the fixed
    // left-associated sum is the identical tree in both engines)
    // between the BM25 and query-likelihood rankings of the SAME
    // query — the eval run before swapping ranking functions in a
    // retrieval pipeline. Per-depth overlap counts are exact
    // integers; agree@d and RBO@10 are single divisions / a fixed
    // fold over the pivoted 1-row frame. Scale shape: both rankings
    // arrive through the bounded graft_topk_by funnels (k=10 rows
    // each); everything here is algebra on 10-row frames.
    "q374_rank_agreement" -> { (spark, dir) =>
      val docs = Tables(spark, dir).documents
      val terms = Seq("hash", "merge", "scan")
      val a = graft.operators.TextSearchOps
        .bm25(docs, "doc_id", "text", terms, k = 10)
        .select(col("rk").as("ra"), col("doc_id"))
      val b = graft.operators.TextSearchOps
        .queryLikelihood(docs, "doc_id", "text", terms, k = 10)
        .select(col("rk").as("rb"), col("doc_id"))
      val joined = a.join(b, Seq("doc_id"))
      val depths = spark.range(1, 11)
        .select(col("id").cast("int").as("d"))
      val ov = depths.join(joined,
          col("ra") <= col("d") && col("rb") <= col("d"), "left")
        .groupBy(col("d")).agg(count(col("doc_id")).as("o"))
      val piv = ov.agg(
        max(when(col("d") === 1, col("o"))).as("o1"),
        (2 to 10).map(k =>
          max(when(col("d") === k, col("o"))).as(s"o$k")): _*)
      val rboExpr = (1 to 10).map { k =>
        lit(0.5) * pow(lit(0.5), lit(k - 1)) *
          col(s"o$k").cast("double") / lit(k.toDouble)
      }.reduce(_ + _)
      ov.crossJoin(broadcast(
          piv.select(round(rboExpr, 6).as("rbo10"))))
        .select(col("d"), col("o"),
          round(col("o").cast("double") / col("d").cast("double"), 6)
            .as("agree"),
          col("rbo10"))
        .orderBy(col("d"))
    },

    // DSIR-style importance weights (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): hashed token
    // features (portable fingerprint mod 64 buckets), bucket
    // distributions for the TARGET (lang='en') and SOURCE (full
    // corpus) estimated with add-one smoothing, and each document
    // scored by the sum of per-token log ratios
    // ln(p_target(b)/p_source(b)). Scale shape: ONE token-level
    // aggregation produces the 64-row bucket table (map-side
    // combined); the dense log-ratio array broadcasts back as a 1-row
    // cross join and each document folds its own token array per-row —
    // the scoring pass never shuffles a token. Per-token ratios round
    // to 6 decimals and sum through exact decimals, so the per-doc
    // weight is float-order independent.
    "q225_dsir_weights" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      // scoped cache: scanned twice (bucket counts + scoring fold)
      val docs = graft.operators.CacheScope.scoped(t.documents
        .select(col("doc_id"), col("lang"), col("source"),
          TF.regexTokens(col("text")).as("toks")))
      val bc = docs
        .select(col("lang"), explode(col("toks")).as("tk"))
        .select(col("lang"),
          expr("graft_fingerprint(tk) % 64").as("b"))
        .groupBy(col("b"))
        .agg(count(when(col("lang") === "en", 1)).as("ct"),
          count(lit(1)).as("cs"))
      val dense = spark.range(64).select(col("id").as("b"))
        .join(bc, Seq("b"), "left")
        .select(col("b"), coalesce(col("ct"), lit(0L)).as("ct"),
          coalesce(col("cs"), lit(0L)).as("cs"))
      val tots = dense.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ts"))
      val lrarr = dense.crossJoin(broadcast(tots))
        .select(col("b"),
          log(((col("ct") + lit(1.0)) / (col("tt") + lit(64.0))) /
            ((col("cs") + lit(1.0)) / (col("ts") + lit(64.0)))).as("lr"))
        .groupBy()
        .agg(array_sort(collect_list(struct(col("b"), col("lr"))))
          .as("_p"))
        .select(transform(col("_p"), p => p.getField("lr")).as("lrs"))
      docs.crossJoin(broadcast(lrarr))
        .withColumn("w", expr(
          """aggregate(toks, CAST(0 AS DECIMAL(38,6)), (acc, t) ->
            |  acc + CAST(ROUND(element_at(lrs,
            |    CAST(graft_fingerprint(t) % 64 AS INT) + 1), 6)
            |    AS DECIMAL(38,6)))""".stripMargin))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          round(sum(col("w")).cast("double") /
            count(lit(1)).cast("double"), 6).as("avg_weight"))
        .orderBy(col("source"))
    },

    // Pairwise Jensen-Shannon divergence between the sources' token
    // distributions (Lin 1991) — the symmetric, bounded corpus-mix
    // distance that complements q298's mutual information and q225's
    // DSIR log-ratios, over the same hashed 64-bucket features. ONE
    // token-level aggregation collapses the corpus to a (source x 64)
    // count frame; every later step (dense completion, pair join on
    // bucket, the per-pair fold) runs on bounded frames. Add-one
    // smoothed probabilities are exact integer ratios; the JSD sum is
    // an ORDERED fold over the 64 buckets so the fp order matches the
    // oracle's list_reduce.
    "q319_js_divergence" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val tok = t.documents
        .select(col("source"),
          explode(TF.regexTokens(col("text"))).as("tk"))
        .select(col("source"), expr("graft_fingerprint(tk) % 64").as("b"))
        .groupBy(col("source"), col("b")).agg(count(lit(1)).as("c"))
      val dense = tok.select(col("source")).distinct()
        .crossJoin(spark.range(64).select(col("id").as("b")))
        .join(tok, Seq("source", "b"), "left")
        .select(col("source"), col("b"),
          coalesce(col("c"), lit(0L)).as("c"))
      val tots = dense.groupBy(col("source")).agg(sum(col("c")).as("n"))
      val d = dense.join(tots, "source")
      val a = d.select(col("source").as("s1"), col("b"),
        col("c").as("c1"), col("n").as("n1"))
      val bb = d.select(col("source").as("s2"), col("b").as("b2"),
        col("c").as("c2"), col("n").as("n2"))
      val pairs = a
        .join(bb, col("b") === col("b2") && col("s1") < col("s2"))
        .withColumn("p",
          (col("c1") + lit(1.0)) / (col("n1") + lit(64.0)))
        .withColumn("q",
          (col("c2") + lit(1.0)) / (col("n2") + lit(64.0)))
        .withColumn("m", (col("p") + col("q")) / lit(2.0))
        .withColumn("term",
          lit(0.5) * (col("p") * log(col("p") / col("m")))
            + lit(0.5) * (col("q") * log(col("q") / col("m"))))
      pairs.groupBy(col("s1"), col("s2"))
        .agg(max(col("n1")).as("n1_tokens"), max(col("n2")).as("n2_tokens"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(b, term))),
              r -> r.term),
            0D, (a, x) -> a + x)""").as("jsd0"))
        .select(col("s1"), col("s2"), col("n1_tokens"), col("n2_tokens"),
          round(col("jsd0"), 9).as("jsd"),
          round(sqrt(col("jsd0")), 9).as("js_distance"))
        .orderBy(col("s1"), col("s2"))
    },

    // BM25 through the MATERIALIZED inverted index: buildIndex
    // persists (term, doc, tf) postings (partitioned by term prefix),
    // doc lengths, and 1-row corpus stats; the search then reads only
    // the query terms' postings — per-query cost independent of corpus
    // token count, the posting-list shape the 100-TB deployment runs.
    // Same oracle as q219: index + direct scoring must agree exactly.
    "q222_bm25_indexed" -> { (spark, dir) =>
      // build once, search many: keyed by a CONTENT fingerprint of the
      // corpus (file sizes + mtimes), so a regenerated corpus at the
      // same path rebuilds instead of silently serving a stale index;
      // repeated calls on the same corpus reuse the completed build
      // and measure the per-query cost the index exists to deliver.
      // Rooted at the CacheFs cache root (conf-resolvable, shared on
      // a real cluster) — a java.io.tmpdir root is driver-local.
      val idx = new org.apache.hadoop.fs.Path(
        graft.sources.CacheFs.root(spark),
        "bm25_idx_" + graft.sources.CacheFs.AlgoVersion + "_" +
          graft.operators.TextSearchOps.corpusFingerprint(
            s"$dir/documents.parquet")).toString
      if (!graft.operators.TextSearchOps.indexComplete(idx))
        graft.operators.TextSearchOps.buildIndex(
          Tables(spark, dir).documents, "doc_id", "text", idx)
      graft.operators.TextSearchOps.bm25Indexed(
        spark, idx, "doc_id", Seq("hash", "merge", "scan"), k = 10)
    },

    // Hybrid retrieval via reciprocal-rank fusion: the lexical top-20
    // (token-set Jaccard vs doc 0) and the vector top-20 (cosine vs
    // embedding 0) are each bounded graft_topk_by lists; RRF fuses
    // rank positions (1/(60+r)), so the two modalities' incomparable
    // scores never mix. Both corpus scans are single-pass against a
    // broadcast 1-row query; the fusion join touches <= 40 rows. At
    // 100 TB the candidate lists come from the inverted-index / IVF
    // paths — the fusion shape is unchanged.
    "q220_hybrid_rrf" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val docs = t.documents
        .select(col("doc_id"), TF.tokenSet(col("text")).as("tk"))
      val q0 = docs.where(col("doc_id") === 0).select(col("tk").as("qtk"))
      val lex = docs.where(col("doc_id") =!= 0).crossJoin(broadcast(q0))
        .withColumn("jac",
          size(array_intersect(col("tk"), col("qtk"))).cast("double") /
            size(array_distinct(concat(col("tk"), col("qtk")))).cast("double"))
        .groupBy()
        .agg(expr("graft_topk_by(jac, doc_id, doc_id, 20)").as("top"))
        .select(posexplode(col("top")))
        .select(col("col.tie").as("doc_id"),
          (col("pos") + 1).cast("int").as("lex_rk"))
      val e0 = t.embeddings.where(col("vec_id") === 0)
        .select(col("embedding").as("qe"))
      val vec = t.embeddings.where(col("vec_id") =!= 0)
        .crossJoin(broadcast(e0))
        .withColumn("cos", expr("graft_cosine(embedding, qe)"))
        .groupBy()
        .agg(expr("graft_topk_by(cos, vec_id, vec_id, 20)").as("top"))
        .select(posexplode(col("top")))
        .select(col("col.tie").as("doc_id"),
          (col("pos") + 1).cast("int").as("vec_rk"))
      lex.join(vec, Seq("doc_id"), "full_outer")
        .withColumn("rrf", round(
          coalesce(lit(1.0) / (lit(60.0) + col("lex_rk").cast("double")),
            lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("vec_rk").cast("double")),
            lit(0.0)), 6))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
        .select(col("doc_id"), col("rrf"), col("lex_rk"), col("vec_rk"))
    },

    // DoReMi-style domain mixture reweighting (Xie et al. 2023,
    // "DoReMi: Optimizing Data Mixtures", simplified to one
    // exponential-tilting round): per-source mean unigram surprisal
    // (q175's LM, per-doc sums via the position-sorted fold), excess
    // over the corpus mean, and new sampling weights share *
    // exp(excess) normalized. Float discipline: per-doc NLL doubles
    // sum across a source through exact DECIMAL(38,18) (order-free);
    // the <=#sources normalizer folds over a SORTED source list so
    // both engines add in the same order.
    "q264_doremi_weights" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val toks = t.documents.select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val tf = toks.groupBy(col("tok")).agg(count(lit(1)).as("tf"))
      val total = toks.agg(count(lit(1)).as("nt"))
      val perDoc = toks.join(broadcast(tf), "tok")
        .crossJoin(broadcast(total))
        .withColumn("lnp",
          -log(col("tf").cast("double") / col("nt").cast("double")))
        .groupBy(col("doc_id"), col("source"))
        .agg(count(lit(1)).as("n_tok"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(pos, lnp))),
              p -> p.lnp),
            0D, (a, x) -> a + x)""").as("nll"))
        .select(col("source"),
          (col("nll") / col("n_tok").cast("double")).as("avg_nll"))
      val bySrc = perDoc.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("avg_nll").cast("decimal(38,18)")).as("s"))
      val glob = bySrc.agg(sum(col("n_docs")).as("n_all"),
        sum(col("s")).as("s_all"))
      val ex = bySrc.crossJoin(broadcast(glob))
        .select(col("source"), col("n_docs"),
          (col("s").cast("double") / col("n_docs").cast("double"))
            .as("mean_nll"),
          (col("s").cast("double") / col("n_docs").cast("double")
            - col("s_all").cast("double") / col("n_all").cast("double"))
            .as("excess"),
          (col("n_docs").cast("double") / col("n_all").cast("double"))
            .as("share"))
        .withColumn("wraw", col("share") * exp(col("excess")))
      val norm = ex.agg(expr("""aggregate(
          transform(array_sort(collect_list(struct(source, wraw))),
            p -> p.wraw),
          0D, (a, x) -> a + x)""").as("z"))
      ex.crossJoin(broadcast(norm))
        .select(col("source"), col("n_docs"),
          round(col("mean_nll"), 6).as("mean_nll"),
          round(col("excess"), 6).as("excess"),
          round(col("wraw") / col("z"), 6).as("weight"))
        .orderBy(col("source"))
    },

    // Bigram language model with add-1 smoothing, scored back over
    // the corpus as per-doc perplexity — one LM rung above q175's
    // unigram surprisal (KenLM-style quality signals). Bigrams come
    // from a per-doc lead window (bounded partitions = docs, never a
    // global sort); conditional counts are two hash aggregates;
    // p(w2|w1) = (c2+1)/(c1+V). Per-doc NLL folds the position-
    // sorted bigram list so both engines add doubles in token order.
    "q267_bigram_ppl" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      val toks = t.documents.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      val bg = toks
        .withColumn("nxt", lead(col("tok"), 1).over(
          Window.partitionBy(col("doc_id")).orderBy(col("pos"))))
        .where(col("nxt").isNotNull)
      val c2 = bg.groupBy(col("tok"), col("nxt"))
        .agg(count(lit(1)).as("c2"))
      val c1 = c2.groupBy(col("tok")).agg(sum(col("c2")).as("c1"))
      val v = toks.agg(countDistinct(col("tok")).as("v"))
      bg.join(broadcast(c2), Seq("tok", "nxt"))
        .join(broadcast(c1), Seq("tok"))
        .crossJoin(broadcast(v))
        .withColumn("lnp", -log(
          (col("c2") + lit(1)).cast("double")
            / (col("c1") + col("v")).cast("double")))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"),
          expr("""aggregate(
            transform(array_sort(collect_list(struct(pos, lnp))),
              p -> p.lnp),
            0D, (a, x) -> a + x)""").as("nll"))
        .select(col("doc_id"), col("n_bigrams"),
          round(col("nll") / col("n_bigrams").cast("double"), 6)
            .as("avg_nll"),
          round(exp(col("nll") / col("n_bigrams").cast("double")), 6)
            .as("ppl"))
        .orderBy(col("doc_id"))
    },

    // Feature hashing (the hashing trick, Weinberger et al. 2009)
    // over categorical columns: each feature string hashes to one of
    // 16 buckets by the portable fingerprint, with a +/-1 sign from
    // an independent hash bit ((h div 16) % 2 — NOT h % 2, which
    // would correlate with the bucket's parity); collisions sum.
    // One codegen projection + one compact-key aggregate — the
    // encoder never materializes a vocabulary, which is the point of
    // the trick at 100 TB.
    "q265_feature_hash" -> { (spark, dir) =>
      val t = Tables(spark, dir)
      t.orders.select(col("o_orderkey"), explode(array(
          concat(lit("priority="), col("o_orderpriority")),
          concat(lit("status="), col("o_orderstatus")))).as("f"))
        .select(col("o_orderkey"),
          pmod(expr("graft_fingerprint(f)"), lit(16L)).as("idx"),
          when(pmod(expr("graft_fingerprint(f) div 16"), lit(2L)) === 1L,
            1L).otherwise(-1L).as("v"))
        .groupBy(col("o_orderkey"), col("idx"))
        .agg(sum(col("v")).as("val"))
        .orderBy(col("o_orderkey"), col("idx"))
    }
  )

  /** Shared oracle CTE chain replicating DedupOps.cosineCandidatePairs
    * (4 hyperplanes, maxBucket 500): ends with `prs(label, vec_a,
    * vec_b, cos)` — candidate pairs inside (label, bucket) blocks,
    * cosine attached, NO threshold applied yet. Splice after WITH. */
  private[queries] val lshPairsCtes: String =
    """bk0 AS (SELECT vec_id, label, embedding,
      |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
      |      CAST(v AS DOUBLE) * (CASE WHEN
      |        ((0*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
      |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s0,
      |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
      |      CAST(v AS DOUBLE) * (CASE WHEN
      |        ((1*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
      |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s1,
      |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
      |      CAST(v AS DOUBLE) * (CASE WHEN
      |        ((2*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
      |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s2,
      |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
      |      CAST(v AS DOUBLE) * (CASE WHEN
      |        ((3*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
      |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s3
      |  FROM embeddings),
      |bk AS (SELECT vec_id, label, embedding,
      |    s0*8 + s1*4 + s2*2 + s3 AS bkt FROM bk0),
      |okb AS (SELECT label, bkt FROM bk GROUP BY label, bkt
      |  HAVING COUNT(*) <= 500),
      |pb AS (SELECT bk.vec_id, bk.label, bk.embedding, bk.bkt
      |  FROM bk JOIN okb USING (label, bkt)),
      |prs AS (SELECT a.label, a.vec_id AS vec_a, b.vec_id AS vec_b,
      |    list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      |    / (SQRT(list_sum(list_transform(a.embedding,
      |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
      |      * SQRT(list_sum(list_transform(b.embedding,
      |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
      |  FROM pb a JOIN pb b ON a.label = b.label AND a.bkt = b.bkt
      |    AND a.vec_id < b.vec_id)""".stripMargin

  /** Shared by q219 (direct scan) and q222 (materialized index): the
    * two plans must produce byte-identical top-k scores. */
  private val bm25OracleSql: String =
    """WITH terms AS (SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
      |    x -> LENGTH(x) > 0)) AS term
      |  FROM documents),
      |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
      |    CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE)
      |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
      |  FROM dlen),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
      |  WHERE term IN ('hash', 'merge', 'scan') GROUP BY doc_id, term),
      |dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
      |w AS (SELECT tf.doc_id, tf.term,
      |    LN((st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
      |      * (CAST(tf.tf AS DOUBLE) * 2.2)
      |      / (CAST(tf.tf AS DOUBLE)
      |        + 1.2 * (0.25 + 0.75 * (CAST(dlen.dl AS DOUBLE) / st.avgdl)))
      |      AS w
      |  FROM tf JOIN dfreq USING (term) JOIN dlen USING (doc_id)
      |  CROSS JOIN st),
      |sc AS (SELECT doc_id, ROUND(
      |    COALESCE(SUM(CASE WHEN term = 'hash' THEN w END), 0.0)
      |    + COALESCE(SUM(CASE WHEN term = 'merge' THEN w END), 0.0)
      |    + COALESCE(SUM(CASE WHEN term = 'scan' THEN w END), 0.0), 6)
      |      AS score
      |  FROM w GROUP BY doc_id),
      |rked AS (SELECT doc_id, score, CAST(ROW_NUMBER() OVER
      |    (ORDER BY score DESC, doc_id) AS INT) AS rk FROM sc)
      |SELECT rk, doc_id, score FROM rked WHERE rk <= 10
      |ORDER BY rk""".stripMargin

  // mirrors queryLikelihood: identical tokenization, identical
  // fixed-term-order fold of the Dirichlet-smoothed log terms
  private val queryLikelihoodOracleSql: String =
    """WITH terms AS (SELECT doc_id, unnest(list_filter(
      |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
      |    x -> LENGTH(x) > 0)) AS term
      |  FROM documents),
      |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id),
      |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tokens FROM terms),
      |ctf AS (SELECT
      |    CAST(SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS ctf0,
      |    CAST(SUM(CASE WHEN term = 'merge' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS ctf1,
      |    CAST(SUM(CASE WHEN term = 'scan' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS ctf2
      |  FROM terms),
      |tf AS (SELECT doc_id,
      |    CAST(SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS tf0,
      |    CAST(SUM(CASE WHEN term = 'merge' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS tf1,
      |    CAST(SUM(CASE WHEN term = 'scan' THEN 1 ELSE 0 END)
      |      AS DOUBLE) AS tf2
      |  FROM terms WHERE term IN ('hash', 'merge', 'scan')
      |  GROUP BY doc_id),
      |sc AS (SELECT t.doc_id, ROUND(
      |    LN((t.tf0 + 300.0 * ((c.ctf0 + 1.0) / (s.tokens + 1.0)))
      |      / (CAST(d.dl AS DOUBLE) + 300.0))
      |    + LN((t.tf1 + 300.0 * ((c.ctf1 + 1.0) / (s.tokens + 1.0)))
      |      / (CAST(d.dl AS DOUBLE) + 300.0))
      |    + LN((t.tf2 + 300.0 * ((c.ctf2 + 1.0) / (s.tokens + 1.0)))
      |      / (CAST(d.dl AS DOUBLE) + 300.0)), 6) AS score
      |  FROM tf t JOIN dlen d USING (doc_id)
      |  CROSS JOIN st s CROSS JOIN ctf c),
      |rked AS (SELECT doc_id, score, CAST(ROW_NUMBER() OVER
      |    (ORDER BY score DESC, doc_id) AS INT) AS rk FROM sc)
      |SELECT rk, doc_id, score FROM rked WHERE rk <= 10
      |ORDER BY rk""".stripMargin

  def oracle: Map[String, String] = Map(
    "q317_query_likelihood" -> queryLikelihoodOracleSql,

    // the two ranking CTE chains are the q219/q317 oracle bodies;
    // the RBO fold is the same fixed left-associated expression tree
    "q374_rank_agreement" ->
      """WITH terms AS (SELECT doc_id, unnest(list_filter(
        |    regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |    x -> LENGTH(x) > 0)) AS term
        |  FROM documents),
        |dlen AS (SELECT doc_id, COUNT(*) AS dl FROM terms
        |  GROUP BY doc_id),
        |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        |    CAST(SUM(CAST(dl AS DECIMAL(38,6))) AS DOUBLE)
        |      / CAST(COUNT(*) AS DOUBLE) AS avgdl
        |  FROM dlen),
        |tfb AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms
        |  WHERE term IN ('hash', 'merge', 'scan')
        |  GROUP BY doc_id, term),
        |dfreq AS (SELECT term, COUNT(*) AS df FROM tfb GROUP BY term),
        |w AS (SELECT tfb.doc_id, tfb.term,
        |    LN((st.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1.0)
        |      * (CAST(tfb.tf AS DOUBLE) * 2.2)
        |      / (CAST(tfb.tf AS DOUBLE)
        |        + 1.2 * (0.25 + 0.75 * (CAST(dlen.dl AS DOUBLE)
        |          / st.avgdl)))
        |      AS w
        |  FROM tfb JOIN dfreq USING (term) JOIN dlen USING (doc_id)
        |  CROSS JOIN st),
        |scb AS (SELECT doc_id, ROUND(
        |    COALESCE(SUM(CASE WHEN term = 'hash' THEN w END), 0.0)
        |    + COALESCE(SUM(CASE WHEN term = 'merge' THEN w END), 0.0)
        |    + COALESCE(SUM(CASE WHEN term = 'scan' THEN w END), 0.0),
        |      6) AS score
        |  FROM w GROUP BY doc_id),
        |rka AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
        |    (ORDER BY score DESC, doc_id) AS INT) AS ra FROM scb),
        |stq AS (SELECT CAST(COUNT(*) AS DOUBLE) AS tokens FROM terms),
        |ctf AS (SELECT
        |    CAST(SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS ctf0,
        |    CAST(SUM(CASE WHEN term = 'merge' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS ctf1,
        |    CAST(SUM(CASE WHEN term = 'scan' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS ctf2
        |  FROM terms),
        |tfq AS (SELECT doc_id,
        |    CAST(SUM(CASE WHEN term = 'hash' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS tf0,
        |    CAST(SUM(CASE WHEN term = 'merge' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS tf1,
        |    CAST(SUM(CASE WHEN term = 'scan' THEN 1 ELSE 0 END)
        |      AS DOUBLE) AS tf2
        |  FROM terms WHERE term IN ('hash', 'merge', 'scan')
        |  GROUP BY doc_id),
        |scq AS (SELECT t.doc_id, ROUND(
        |    LN((t.tf0 + 300.0 * ((c.ctf0 + 1.0) / (s.tokens + 1.0)))
        |      / (CAST(d.dl AS DOUBLE) + 300.0))
        |    + LN((t.tf1 + 300.0 * ((c.ctf1 + 1.0) / (s.tokens + 1.0)))
        |      / (CAST(d.dl AS DOUBLE) + 300.0))
        |    + LN((t.tf2 + 300.0 * ((c.ctf2 + 1.0) / (s.tokens + 1.0)))
        |      / (CAST(d.dl AS DOUBLE) + 300.0)), 6) AS score
        |  FROM tfq t JOIN dlen d USING (doc_id)
        |  CROSS JOIN stq s CROSS JOIN ctf c),
        |rkb AS (SELECT doc_id, CAST(ROW_NUMBER() OVER
        |    (ORDER BY score DESC, doc_id) AS INT) AS rb FROM scq),
        |j AS (SELECT rka.doc_id, rka.ra, rkb.rb
        |  FROM rka JOIN rkb USING (doc_id)
        |  WHERE rka.ra <= 10 AND rkb.rb <= 10),
        |dd AS (SELECT CAST(unnest(generate_series(1, 10)) AS INT)
        |    AS d),
        |ov AS (SELECT dd.d, CAST(COUNT(j.doc_id) AS BIGINT) AS o
        |  FROM dd LEFT JOIN j ON j.ra <= dd.d AND j.rb <= dd.d
        |  GROUP BY dd.d),
        |piv AS (SELECT
        |    MAX(CASE WHEN d = 1 THEN o END) AS o1,
        |    MAX(CASE WHEN d = 2 THEN o END) AS o2,
        |    MAX(CASE WHEN d = 3 THEN o END) AS o3,
        |    MAX(CASE WHEN d = 4 THEN o END) AS o4,
        |    MAX(CASE WHEN d = 5 THEN o END) AS o5,
        |    MAX(CASE WHEN d = 6 THEN o END) AS o6,
        |    MAX(CASE WHEN d = 7 THEN o END) AS o7,
        |    MAX(CASE WHEN d = 8 THEN o END) AS o8,
        |    MAX(CASE WHEN d = 9 THEN o END) AS o9,
        |    MAX(CASE WHEN d = 10 THEN o END) AS o10
        |  FROM ov),
        |rbo AS (SELECT ROUND(
        |    0.5 * POWER(0.5, 0) * CAST(o1 AS DOUBLE) / 1.0
        |    + 0.5 * POWER(0.5, 1) * CAST(o2 AS DOUBLE) / 2.0
        |    + 0.5 * POWER(0.5, 2) * CAST(o3 AS DOUBLE) / 3.0
        |    + 0.5 * POWER(0.5, 3) * CAST(o4 AS DOUBLE) / 4.0
        |    + 0.5 * POWER(0.5, 4) * CAST(o5 AS DOUBLE) / 5.0
        |    + 0.5 * POWER(0.5, 5) * CAST(o6 AS DOUBLE) / 6.0
        |    + 0.5 * POWER(0.5, 6) * CAST(o7 AS DOUBLE) / 7.0
        |    + 0.5 * POWER(0.5, 7) * CAST(o8 AS DOUBLE) / 8.0
        |    + 0.5 * POWER(0.5, 8) * CAST(o9 AS DOUBLE) / 9.0
        |    + 0.5 * POWER(0.5, 9) * CAST(o10 AS DOUBLE) / 10.0, 6)
        |      AS rbo10 FROM piv)
        |SELECT ov.d, ov.o,
        |  ROUND(CAST(ov.o AS DOUBLE) / CAST(ov.d AS DOUBLE), 6)
        |    AS agree,
        |  rbo10
        |FROM ov CROSS JOIN rbo ORDER BY ov.d""".stripMargin,

    // same portable token hash as the DSIR oracle; same add-one
    // ratios; the per-pair JSD is the same bucket-ordered fold
    "q319_js_divergence" ->
      """WITH tok AS (SELECT source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(t, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) % 64 AS b
        |  FROM (SELECT source, unnest(list_filter(
        |      regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |      x -> LENGTH(x) > 0)) AS t FROM documents)),
        |bc AS (SELECT source, b, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM tok GROUP BY 1, 2),
        |dense AS (SELECT s.source, r.r AS b, COALESCE(bc.c, 0) AS c
        |  FROM (SELECT DISTINCT source FROM bc) s
        |  CROSS JOIN range(64) r(r)
        |  LEFT JOIN bc ON bc.source = s.source AND bc.b = r.r),
        |tots AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
        |  FROM dense GROUP BY 1),
        |d AS (SELECT dense.source, b, c, n
        |  FROM dense JOIN tots ON dense.source = tots.source),
        |pairs AS (
        |  SELECT a.source AS s1, x.source AS s2, a.b,
        |    CAST(a.c AS BIGINT) AS c1, CAST(a.n AS BIGINT) AS n1,
        |    CAST(x.c AS BIGINT) AS c2, CAST(x.n AS BIGINT) AS n2,
        |    (a.c + 1.0) / (a.n + 64.0) AS p,
        |    (x.c + 1.0) / (x.n + 64.0) AS q
        |  FROM d a JOIN d x ON a.b = x.b AND a.source < x.source),
        |terms AS (
        |  SELECT s1, s2, b, n1, n2,
        |    0.5 * (p * LN(p / ((p + q) / 2.0)))
        |      + 0.5 * (q * LN(q / ((p + q) / 2.0))) AS term
        |  FROM pairs),
        |folds AS (
        |  SELECT s1, s2,
        |    CAST(MAX(n1) AS BIGINT) AS n1_tokens,
        |    CAST(MAX(n2) AS BIGINT) AS n2_tokens,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      LIST(term ORDER BY b)), (a, x) -> a + x) AS jsd0
        |  FROM terms GROUP BY 1, 2)
        |SELECT s1, s2, n1_tokens, n2_tokens,
        |  ROUND(jsd0, 9) AS jsd, ROUND(SQRT(jsd0), 9) AS js_distance
        |FROM folds ORDER BY s1, s2""".stripMargin,
    "q236_matryoshka" ->
      """WITH tr AS (SELECT vec_id, embedding[1:16] AS tr
        |  FROM embeddings),
        |s AS (SELECT vec_id, tr,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |      list_transform(tr, x ->
        |        CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |      (a, b) -> a + b) AS ss
        |  FROM tr)
        |SELECT vec_id,
        |  ROUND(CAST(tr[1] AS DOUBLE), 6) AS d1,
        |  ROUND(CAST(tr[2] AS DOUBLE), 6) AS d2,
        |  ROUND(sqrt(ss), 6) AS norm16,
        |  TRUE AS unit_norm
        |FROM s ORDER BY vec_id""".stripMargin,

    "q237_training_order" ->
      """WITH f AS (SELECT doc_id,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(CAST(doc_id AS VARCHAR), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) AS fp
        |  FROM documents)
        |SELECT doc_id, fp % 8 AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY fp % 8
        |    ORDER BY fp, doc_id) AS INT) AS pos
        |FROM f ORDER BY shard, pos""".stripMargin,
    // full MinHash+LSH pipeline replicated in SQL: portable polynomial
    // token hash -> 32-sig -> 8 bands -> bounded buckets -> verify
    "q49_dedup_minhash" ->
      """WITH toks AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS tk
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(tk, t ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)
        |      % 2147483647) AS hs
        |  FROM toks),
        |mh AS (SELECT doc_id, list_transform(range(0, 32), i ->
        |    list_min(list_transform(hs, h ->
        |      ((1000003 + i * 7919) * h + (12345 + i * 271))
        |        % 2147483647))) AS sig
        |  FROM th),
        |bands AS (SELECT doc_id, b.b AS band,
        |    mh.sig[b.b*4+1:b.b*4+4] AS bsig
        |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b),
        |buckets AS (SELECT band, bsig FROM bands
        |  GROUP BY band, bsig HAVING COUNT(*) <= 50),
        |pruned AS (SELECT bands.* FROM bands
        |  JOIN buckets USING (band, bsig)),
        |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM pruned a JOIN pruned b ON a.band = b.band
        |    AND a.bsig = b.bsig AND a.doc_id < b.doc_id),
        |verified AS (SELECT doc_a, doc_b,
        |    CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
        |      / CAST(len(list_distinct(ta.tk || tb.tk)) AS DOUBLE)
        |      AS jaccard
        |  FROM cands JOIN toks ta ON ta.doc_id = doc_a
        |  JOIN toks tb ON tb.doc_id = doc_b)
        |SELECT doc_a, doc_b, ROUND(jaccard, 6) AS jaccard FROM verified
        |WHERE jaccard >= 0.6 ORDER BY doc_a, doc_b""".stripMargin,

    // q49's replica with the pair join restricted to cross-side
    // pairs; new+old partition the corpus, so the combined bucket
    // population equals q49's
    "q438_cross_dedup" ->
      """WITH toks AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS tk
        |  FROM documents),
        |th AS (SELECT doc_id, list_transform(tk, t ->
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)
        |      % 2147483647) AS hs
        |  FROM toks),
        |mh AS (SELECT doc_id, list_transform(range(0, 32), i ->
        |    list_min(list_transform(hs, h ->
        |      ((1000003 + i * 7919) * h + (12345 + i * 271))
        |        % 2147483647))) AS sig
        |  FROM th),
        |bands AS (SELECT doc_id, b.b AS band,
        |    mh.sig[b.b*4+1:b.b*4+4] AS bsig
        |  FROM mh CROSS JOIN (SELECT unnest(range(0, 8)) AS b) b),
        |buckets AS (SELECT band, bsig FROM bands
        |  GROUP BY band, bsig HAVING COUNT(*) <= 50),
        |pruned AS (SELECT bands.* FROM bands
        |  JOIN buckets USING (band, bsig)),
        |cands AS (SELECT DISTINCT n.doc_id AS doc_new,
        |    o.doc_id AS doc_old
        |  FROM pruned n JOIN pruned o ON n.band = o.band
        |    AND n.bsig = o.bsig
        |  WHERE n.doc_id % 5 = 0 AND o.doc_id % 5 <> 0),
        |verified AS (SELECT doc_new, doc_old,
        |    CAST(len(list_intersect(ta.tk, tb.tk)) AS DOUBLE)
        |      / CAST(len(list_distinct(ta.tk || tb.tk)) AS DOUBLE)
        |      AS jaccard
        |  FROM cands JOIN toks ta ON ta.doc_id = doc_new
        |  JOIN toks tb ON tb.doc_id = doc_old)
        |SELECT doc_new, doc_old, ROUND(jaccard, 6) AS jaccard
        |FROM verified WHERE jaccard >= 0.6
        |ORDER BY doc_new, doc_old""".stripMargin,

    // full SimHash pipeline replicated in SQL: portable token hash,
    // per-bit votes, 16-bit chunk buckets (bounded), exact hamming
    "q50_dedup_simhash" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(list_distinct(regexp_split_to_array(text, '\s+')))
        |      AS t
        |  FROM documents),
        |th AS (SELECT doc_id,
        |    (list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(t, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000)
        |      % 2147483647 * 65599 + 17) % 999999999999989 AS h
        |  FROM toks),
        |bits AS (SELECT doc_id, j.j AS j,
        |    CASE WHEN ((h >> CAST(j.j AS BIGINT)) & 1) = 1
        |      THEN 1 ELSE -1 END AS sign
        |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS j) j),
        |votes AS (SELECT doc_id, j, SUM(sign) AS v FROM bits
        |  GROUP BY doc_id, j),
        |sh AS (SELECT doc_id, CAST(SUM(CASE WHEN v > 0
        |    THEN (CAST(1 AS BIGINT) << CAST(j AS BIGINT))
        |    ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY doc_id),
        |chunks AS (SELECT doc_id, simhash, c.c AS chunk_id,
        |    (simhash >> CAST(c.c * 16 AS BIGINT)) & 65535 AS chunk
        |  FROM sh CROSS JOIN (SELECT unnest(range(0, 4)) AS c) c),
        |buckets AS (SELECT chunk_id, chunk FROM chunks
        |  GROUP BY chunk_id, chunk HAVING COUNT(*) <= 50),
        |pruned AS (SELECT chunks.* FROM chunks
        |  JOIN buckets USING (chunk_id, chunk)),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.simhash AS ha, b.simhash AS hb
        |  FROM pruned a JOIN pruned b ON a.chunk_id = b.chunk_id
        |    AND a.chunk = b.chunk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
        |FROM pairs WHERE bit_count(xor(ha, hb)) <= 8
        |ORDER BY hamming, doc_a, doc_b LIMIT 100""".stripMargin,

    // full random-hyperplane ANN replicated in SQL (portable plane
    // directions + identical cosine fold)
    "q54_ann_lsh" ->
      """WITH b AS (SELECT vec_id, label, embedding,
        |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
        |      CAST(v AS DOUBLE) * (CASE WHEN
        |        ((0*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
        |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s0,
        |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
        |      CAST(v AS DOUBLE) * (CASE WHEN
        |        ((1*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
        |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s1,
        |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
        |      CAST(v AS DOUBLE) * (CASE WHEN
        |        ((2*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
        |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s2,
        |    CASE WHEN list_sum(list_transform(embedding, (v, i) ->
        |      CAST(v AS DOUBLE) * (CASE WHEN
        |        ((3*10007 + (i-1)) * 2654435761 % 2147483647) % 2 = 1
        |        THEN 1.0 ELSE -1.0 END))) > 0 THEN 1 ELSE 0 END AS s3
        |  FROM embeddings),
        |bk AS (SELECT vec_id, label, embedding,
        |    s0*8 + s1*4 + s2*2 + s3 AS bucket FROM b),
        |q AS (SELECT unnest([bucket, xor(bucket, 1), xor(bucket, 2),
        |      xor(bucket, 4), xor(bucket, 8)]) AS bucket,
        |    vec_id AS q_id, embedding AS qe FROM bk
        |  WHERE vec_id < 10),
        |joined AS (SELECT q.q_id, d.vec_id,
        |    list_sum(list_transform(list_zip(d.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (SQRT(list_sum(list_transform(d.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * SQRT(list_sum(list_transform(q.qe,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM bk d JOIN q ON d.bucket = q.bucket
        |    AND d.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, vec_id, ROUND(cos, 6) AS cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM joined)
        |SELECT q_id, vec_id, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    "q196_bruteforce_topk" ->
      """WITH q AS (SELECT vec_id AS q_id, embedding AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |scored AS (SELECT q.q_id, d.vec_id,
        |    list_sum(list_transform(list_zip(d.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (SQRT(list_sum(list_transform(d.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * SQRT(list_sum(list_transform(q.qe,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM embeddings d CROSS JOIN q WHERE d.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, vec_id, ROUND(cos, 6) AS cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM scored)
        |SELECT q_id, vec_id, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    // nlist/nprobe replicate the Spark side's cost-based sizing:
    // nlist = ceil(sqrt(N)), nprobe = max(2, ceil(nlist/4)).
    "q101_ann_ivf" ->
      """WITH prm AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS nlist,
        |    GREATEST(2, CAST(ceil(ceil(sqrt(COUNT(*))) / 4.0) AS BIGINT))
        |      AS nprobe
        |  FROM embeddings),
        |cents AS (SELECT CAST(vec_id AS INT) AS c_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS centroid
        |  FROM embeddings WHERE vec_id < (SELECT nlist FROM prm)),
        |d AS (SELECT e.vec_id, e.embedding, c.c_id,
        |    list_sum(list_transform(list_zip(c.centroid, e.embedding),
        |      x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |         * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))) AS d2,
        |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_sum(list_transform(list_zip(c.centroid,
        |        e.embedding),
        |        x -> (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE))
        |           * (CAST(x[1] AS DOUBLE) - CAST(x[2] AS DOUBLE)))),
        |        c.c_id) AS ark
        |  FROM embeddings e CROSS JOIN cents c),
        |lists AS (SELECT c_id, vec_id, embedding FROM d WHERE ark = 1),
        |q AS (SELECT c_id, vec_id AS q_id, embedding AS qe FROM d
        |  WHERE vec_id < 10 AND ark <= (SELECT nprobe FROM prm)),
        |scored AS (SELECT q.q_id, l.vec_id,
        |    list_sum(list_transform(list_zip(l.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (SQRT(list_sum(list_transform(l.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * SQRT(list_sum(list_transform(q.qe,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM lists l JOIN q ON l.c_id = q.c_id AND l.vec_id <> q.q_id),
        |ranked AS (SELECT q_id, vec_id, ROUND(cos, 6) AS cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM scored)
        |SELECT q_id, vec_id, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    // PQ replica: codebooks = sub-slices of the first 16 vectors; per
    // subspace argmin (tie-break by codeword id); recon = concat of
    // the 4 chosen codewords; ADC = dist²(q, recon); candidate cut 20
    // by (adc, vec_id); exact-cosine re-rank to top 5.
    "q240_ann_pq" ->
      """WITH cb AS (SELECT CAST(vec_id AS INT) AS c_id,
        |    list_transform(embedding[1:16], v -> CAST(v AS DOUBLE)) AS s0,
        |    list_transform(embedding[17:32], v -> CAST(v AS DOUBLE)) AS s1,
        |    list_transform(embedding[33:48], v -> CAST(v AS DOUBLE)) AS s2,
        |    list_transform(embedding[49:64], v -> CAST(v AS DOUBLE)) AS s3
        |  FROM embeddings WHERE vec_id < 16),
        |enc AS (SELECT e.vec_id, c.c_id, c.s0, c.s1, c.s2, c.s3,
        |    list_sum(list_transform(list_zip(e.embedding[1:16], c.s0),
        |      x -> (CAST(x[1] AS DOUBLE) - x[2])
        |         * (CAST(x[1] AS DOUBLE) - x[2]))) AS d0,
        |    list_sum(list_transform(list_zip(e.embedding[17:32], c.s1),
        |      x -> (CAST(x[1] AS DOUBLE) - x[2])
        |         * (CAST(x[1] AS DOUBLE) - x[2]))) AS d1,
        |    list_sum(list_transform(list_zip(e.embedding[33:48], c.s2),
        |      x -> (CAST(x[1] AS DOUBLE) - x[2])
        |         * (CAST(x[1] AS DOUBLE) - x[2]))) AS d2,
        |    list_sum(list_transform(list_zip(e.embedding[49:64], c.s3),
        |      x -> (CAST(x[1] AS DOUBLE) - x[2])
        |         * (CAST(x[1] AS DOUBLE) - x[2]))) AS d3
        |  FROM embeddings e CROSS JOIN cb c),
        |codes AS (SELECT vec_id,
        |    MIN(CASE WHEN r0 = 1 THEN s0 END) AS w0,
        |    MIN(CASE WHEN r1 = 1 THEN s1 END) AS w1,
        |    MIN(CASE WHEN r2 = 1 THEN s2 END) AS w2,
        |    MIN(CASE WHEN r3 = 1 THEN s3 END) AS w3
        |  FROM (SELECT vec_id, s0, s1, s2, s3,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d0, c_id)
        |        AS r0,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d1, c_id)
        |        AS r1,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, c_id)
        |        AS r2,
        |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d3, c_id)
        |        AS r3
        |    FROM enc)
        |  GROUP BY vec_id),
        |recon AS (SELECT vec_id, w0 || w1 || w2 || w3 AS rv FROM codes),
        |q AS (SELECT vec_id AS q_id,
        |    list_transform(embedding, v -> CAST(v AS DOUBLE)) AS qe
        |  FROM embeddings WHERE vec_id < 10),
        |adc AS (SELECT q.q_id, r.vec_id,
        |    list_sum(list_transform(list_zip(q.qe, r.rv),
        |      x -> (x[1] - x[2]) * (x[1] - x[2]))) AS adist
        |  FROM recon r CROSS JOIN q WHERE r.vec_id <> q.q_id),
        |cand AS (SELECT q_id, vec_id FROM (SELECT q_id, vec_id,
        |      ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id)
        |        AS ark FROM adc) WHERE ark <= 20),
        |scored AS (SELECT c.q_id, c.vec_id,
        |    list_sum(list_transform(list_zip(e.embedding, q.qe),
        |      x -> CAST(x[1] AS DOUBLE) * x[2]))
        |    / (SQRT(list_sum(list_transform(e.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * SQRT(list_sum(list_transform(q.qe, v -> v * v)))) AS cos
        |  FROM cand c JOIN embeddings e ON c.vec_id = e.vec_id
        |  JOIN q ON c.q_id = q.q_id),
        |ranked AS (SELECT q_id, vec_id, ROUND(cos, 6) AS cos,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
        |      ORDER BY cos DESC, vec_id) AS INT) AS rk
        |  FROM scored)
        |SELECT q_id, vec_id, cos, rk FROM ranked WHERE rk <= 5
        |ORDER BY q_id, rk""".stripMargin,

    // brute-force all-pairs containment: the prefix-filtered Spark
    // plan must reproduce this exactly (the filter only prunes
    // candidates that cannot pass θ)
    "q243_containment" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_transform(list_transform(
        |      range(1, len(regexp_split_to_array(text, '\s+')) - 1),
        |      i -> regexp_split_to_array(text, '\s+')[i] || ' ' ||
        |           regexp_split_to_array(text, '\s+')[i+1] || ' ' ||
        |           regexp_split_to_array(text, '\s+')[i+2]),
        |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(SUBSTRING(s, 1, 256), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (h, c) -> (h * 31 + c) % 1000000000000000))) AS bg
        |  FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(len(a.bg) AS INT) AS n_a,
        |  CAST(len(list_intersect(a.bg, b.bg)) AS INT) AS inter,
        |  ROUND(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |    / CAST(len(a.bg) AS DOUBLE), 6) AS containment
        |FROM d a CROSS JOIN d b
        |WHERE a.doc_id <> b.doc_id AND len(a.bg) >= 5
        |  AND len(list_intersect(a.bg, b.bg)) * 5 >= len(a.bg) * 4
        |ORDER BY a_id, b_id""".stripMargin,

    // LM replica: 1-based positions; NTILE(3) over (avg_nll, doc_id)
    // is exactly the distributed-rank bucket arithmetic on the Spark
    // side; 0.7/0.3 cast to DOUBLE so both engines interpolate with
    // the same binary constants
    "q241_perplexity_buckets" ->
      """WITH base AS (SELECT doc_id, string_split(text, ' ') AS arr
        |  FROM documents),
        |toks AS (SELECT doc_id, arr,
        |    unnest(generate_series(1, len(arr))) AS pos,
        |    unnest(arr) AS tok
        |  FROM base),
        |t2 AS (SELECT doc_id, pos, tok,
        |    CASE WHEN pos > 1 THEN arr[pos - 1] END AS w1 FROM toks),
        |uni AS (SELECT tok, COUNT(*) AS c FROM t2 GROUP BY tok),
        |tot AS (SELECT COUNT(*) AS nt FROM t2),
        |bigr AS (SELECT w1, tok, COUNT(*) AS c12 FROM t2
        |  WHERE pos > 1 GROUP BY w1, tok),
        |scored AS (SELECT t.doc_id, t.pos,
        |    CASE WHEN t.pos = 1
        |      THEN -LN(CAST(u2.c AS DOUBLE) / CAST(nt AS DOUBLE))
        |      ELSE -LN(CAST(0.7 AS DOUBLE)
        |          * (CAST(b.c12 AS DOUBLE) / CAST(u1.c AS DOUBLE))
        |        + CAST(0.3 AS DOUBLE)
        |          * (CAST(u2.c AS DOUBLE) / CAST(nt AS DOUBLE)))
        |    END AS lnp
        |  FROM t2 t JOIN uni u2 ON t.tok = u2.tok
        |  LEFT JOIN uni u1 ON t.w1 = u1.tok
        |  LEFT JOIN bigr b ON t.w1 = b.w1 AND t.tok = b.tok
        |  CROSS JOIN tot),
        |perdoc AS (SELECT doc_id, COUNT(*) AS n_tok,
        |    ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |        LIST(lnp ORDER BY pos)), (a, x) -> a + x)
        |      / CAST(COUNT(*) AS DOUBLE), 6) AS avg_nll
        |  FROM scored GROUP BY doc_id),
        |bk AS (SELECT doc_id, n_tok, avg_nll,
        |    ROUND(EXP(avg_nll), 6) AS ppl,
        |    NTILE(3) OVER (ORDER BY avg_nll, doc_id) AS b
        |  FROM perdoc)
        |SELECT doc_id, n_tok, avg_nll, ppl,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM bk ORDER BY doc_id""".stripMargin,

    "q48_dedup_exact" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(
        |    regexp_split_to_array(text, '\s+'))), ' ')) AS canon_md5,
        |  MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents
        |GROUP BY 1 ORDER BY canon_md5""".stripMargin,

    // SUBSTRING(s,1,256) mirrors the native op's 256-codepoint shingle
    // cap; the WHERE drops jac=0 pairs, matching the inverted-index
    // Spark plan (which never materializes zero-intersection pairs) at
    // ANY scale, not just ones with >= 50 nonzero pairs.
    "q51_ngram_jaccard" ->
      """WITH d AS (SELECT doc_id, n_chars // 10 AS blk,
        |    list_distinct(list_transform(list_transform(
        |      range(1, len(regexp_split_to_array(text, '\s+'))),
        |      i -> regexp_split_to_array(text, '\s+')[i] || ' ' ||
        |           regexp_split_to_array(text, '\s+')[i+1]),
        |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(SUBSTRING(s, 1, 256), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (h, c) -> (h * 31 + c) % 1000000000000000))) AS bg
        |  FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  ROUND(CAST(len(list_intersect(a.bg, b.bg)) AS DOUBLE)
        |    / CAST(len(list_distinct(a.bg || b.bg)) AS DOUBLE), 6) AS jac
        |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
        |WHERE len(list_intersect(a.bg, b.bg)) > 0
        |ORDER BY jac DESC, doc_a, doc_b
        |LIMIT 50""".stripMargin,

    // Brute-force all-pairs with the identical portable bigram hash:
    // exactness check for the prefix filter (integer threshold test
    // inter*5 >= union*4 mirrors the Spark side bit-for-bit).
    "q199_ppjoin" ->
      """WITH d AS (SELECT doc_id,
        |    list_distinct(list_transform(list_transform(
        |      range(1, len(regexp_split_to_array(text, '\s+'))),
        |      i -> regexp_split_to_array(text, '\s+')[i] || ' ' ||
        |           regexp_split_to_array(text, '\s+')[i+1]),
        |      s -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(string_split(SUBSTRING(s, 1, 256), ''),
        |          c -> CAST(ascii(c) AS BIGINT))),
        |        (h, c) -> (h * 31 + c) % 1000000000000000))) AS bg
        |  FROM documents),
        |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    CAST(len(list_intersect(a.bg, b.bg)) AS BIGINT) AS inter,
        |    CAST(len(a.bg) + len(b.bg)
        |      - len(list_intersect(a.bg, b.bg)) AS BIGINT) AS uni
        |  FROM d a JOIN d b ON a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b,
        |  ROUND(CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE), 6) AS jac
        |FROM p WHERE inter * 5 >= uni * 4
        |ORDER BY doc_a, doc_b""".stripMargin,

    "q52_embed_dedup" ->
      s"""WITH $lshPairsCtes
        |SELECT label, vec_a, vec_b, ROUND(cos, 6) AS cos FROM prs
        |WHERE cos >= 0.3
        |ORDER BY label, vec_a, vec_b""".stripMargin,

    // The oracle computes the same components by transitive closure
    // (recursive CTE): comp = MIN(node reachable). Identical edge set
    // (bit-identical cosines and LSH blocks, same raw-double >= 0.3
    // threshold as q52).
    "q99_dedup_clusters" ->
      s"""WITH RECURSIVE $lshPairsCtes,
        |p AS (SELECT vec_a, vec_b FROM prs WHERE cos >= 0.3),
        |e AS (SELECT vec_a AS u, vec_b AS v FROM p
        |      UNION SELECT vec_b, vec_a FROM p),
        |reach(u, r) AS (
        |  SELECT u, u FROM (SELECT DISTINCT u FROM e)
        |  UNION
        |  SELECT e.u, reach.r FROM e JOIN reach ON e.v = reach.u),
        |c AS (SELECT u AS vec_id, MIN(r) AS comp FROM reach GROUP BY u)
        |SELECT vec_id, comp,
        |  COUNT(*) OVER (PARTITION BY comp) AS cluster_n
        |FROM c ORDER BY vec_id""".stripMargin,

    "q53_cosine_topk" ->
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |s AS (SELECT vec_id, label,
        |    list_sum(list_transform(list_zip(embedding, qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (SQRT(list_sum(list_transform(embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * SQRT(list_sum(list_transform(qe,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id, label, ROUND(cos, 6) AS cos FROM s
        |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin,

    "q55_langid" ->
      """WITH t AS (SELECT doc_id, lang,
        |    regexp_split_to_array(text, '\s+') AS toks FROM documents),
        |sc AS (SELECT doc_id, lang,
        |    len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS s_en,
        |    len(list_filter(toks, x -> x IN
        |      ('der','die','das','und','ist','ein'))) AS s_de,
        |    len(list_filter(toks, x -> x IN
        |      ('el','la','de','los','que','es'))) AS s_es,
        |    len(list_filter(toks, x -> x IN
        |      ('le','la','les','et','est','un'))) AS s_fr,
        |    len(list_filter(toks, x -> x IN
        |      ('的','是','了','在','我'))) AS s_zh
        |  FROM t),
        |p AS (SELECT doc_id, lang,
        |    GREATEST(s_en, s_de, s_es, s_fr, s_zh) AS best,
        |    CASE
        |      WHEN s_en = GREATEST(s_en,s_de,s_es,s_fr,s_zh)
        |        AND GREATEST(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'en'
        |      WHEN s_de = GREATEST(s_en,s_de,s_es,s_fr,s_zh)
        |        AND GREATEST(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'de'
        |      WHEN s_es = GREATEST(s_en,s_de,s_es,s_fr,s_zh)
        |        AND GREATEST(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'es'
        |      WHEN s_fr = GREATEST(s_en,s_de,s_es,s_fr,s_zh)
        |        AND GREATEST(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'fr'
        |      WHEN s_zh = GREATEST(s_en,s_de,s_es,s_fr,s_zh)
        |        AND GREATEST(s_en,s_de,s_es,s_fr,s_zh) > 0 THEN 'zh'
        |      ELSE 'unknown' END AS predicted
        |  FROM sc)
        |SELECT doc_id, lang, predicted, predicted = lang AS correct
        |FROM p ORDER BY doc_id""".stripMargin,

    "q57_quality_score" ->
      """WITH t AS (SELECT doc_id, text,
        |    regexp_split_to_array(text, '\s+') AS toks,
        |    CAST(LENGTH(text) AS DOUBLE) AS n_chars,
        |    CAST(LENGTH(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        |      AS DOUBLE) AS n_punct,
        |    CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g'))
        |      AS DOUBLE) AS n_digit
        |  FROM documents),
        |s AS (SELECT doc_id, n_chars, n_punct, n_digit,
        |    CAST(len(toks) AS INT) AS n_tokens,
        |    CAST(len(list_filter(toks, x -> x IN
        |      ('the','a','of','and','to','in','is'))) AS DOUBLE) AS n_stop
        |  FROM t)
        |SELECT doc_id, n_tokens,
        |  ROUND(n_chars / CAST(n_tokens AS DOUBLE), 6) AS avg_tok_len,
        |  ROUND(n_punct / n_chars, 6) AS punct_ratio,
        |  ROUND(n_digit / n_chars, 6) AS digit_ratio,
        |  ROUND(n_stop / CAST(n_tokens AS DOUBLE), 6) AS stop_ratio,
        |  ROUND(LEAST(CAST(n_tokens AS DOUBLE) / 200.0, 1.0) * 0.5
        |    + (n_stop / CAST(n_tokens AS DOUBLE)) * 0.3
        |    + (1.0 - n_punct / n_chars) * 0.2, 6) AS quality
        |FROM s ORDER BY doc_id""".stripMargin,

    "q58_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(text, '\s+')) AS INT) AS n_ws,
        |  CAST(len(list_filter(regexp_split_to_array(LOWER(text),
        |    '[^a-z0-9]+'), x -> LENGTH(x) > 0)) AS INT) AS n_regex,
        |  CAST(CEIL(LENGTH(text) / 4.0) AS INT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q59_fingerprint" ->
      """SELECT doc_id,
        |  list_reduce(
        |    list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(text, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |    (h, c) -> (h * 31 + c) % 1000000000000000) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q70_pipeline_e2e" ->
      """WITH base AS (SELECT doc_id, source, text,
        |    regexp_split_to_array(text, '\s+') AS toks,
        |    CAST(LENGTH(text) AS DOUBLE) AS n_chars,
        |    CAST(LENGTH(regexp_replace(text, '[^.!?,;:]', '', 'g'))
        |      AS DOUBLE) AS n_punct,
        |    md5(array_to_string(list_sort(list_distinct(
        |      regexp_split_to_array(text, '\s+'))), ' ')) AS canon
        |  FROM documents),
        |scored AS (SELECT doc_id, source, toks, canon,
        |    MIN(doc_id) OVER (PARTITION BY canon) AS keeper,
        |    LEAST(CAST(len(toks) AS DOUBLE) / 200.0, 1.0) * 0.5
        |      + (CAST(len(list_filter(toks, x -> x IN
        |          ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE)) * 0.3
        |      + (1.0 - n_punct / n_chars) * 0.2 AS quality,
        |    CASE WHEN len(list_filter(toks, x -> x IN
        |        ('the','a','of','and','to','in','is'))) >=
        |      GREATEST(
        |        len(list_filter(toks, x -> x IN
        |          ('der','die','das','und','ist','ein'))),
        |        len(list_filter(toks, x -> x IN
        |          ('el','la','de','los','que','es'))),
        |        len(list_filter(toks, x -> x IN
        |          ('le','la','les','et','est','un'))),
        |        len(list_filter(toks, x -> x IN
        |          ('的','是','了','在','我'))), 1)
        |      THEN 'en' ELSE 'other' END AS pred
        |  FROM base)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(CAST(len(toks) AS BIGINT)) AS BIGINT) AS total_tokens,
        |  ROUND(AVG(quality), 6) AS avg_quality
        |FROM scored
        |WHERE doc_id = keeper AND quality >= 0.3 AND pred = 'en'
        |GROUP BY source ORDER BY source""".stripMargin,

    // closed-form aHash: per-pixel value r+g+b = (r0+g0+b0) + 2x + 2y
    // on the synthesis gradient, so each 8x8 box sum is an exact
    // arithmetic series (the color offsets cancel against the global
    // mean — aHash's brightness invariance, provable here in SQL);
    // the engine must reproduce every bit from the real decoded bytes
    "q278_image_ahash" ->
      """WITH img AS (
        |  SELECT doc_id,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h,
        |    (7 * doc_id + 3) % 200 AS r0, n_chars % 150 AS g0,
        |    doc_id % 100 AS b0
        |  FROM documents),
        |cells AS (
        |  SELECT doc_id, w, h, r0 + g0 + b0 AS rgb0, i.i, j.j,
        |    (i.i * h) // 8 AS y0, ((i.i + 1) * h) // 8 AS y1,
        |    (j.j * w) // 8 AS x0, ((j.j + 1) * w) // 8 AS x1
        |  FROM img
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS i) i
        |  CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) j),
        |bits AS (
        |  SELECT doc_id, i, j,
        |    CASE WHEN
        |      ((x1 - x0) * (y1 - y0) * rgb0
        |        + 2 * (y1 - y0) * (((x0 + x1 - 1) * (x1 - x0)) // 2)
        |        + 2 * (x1 - x0) * (((y0 + y1 - 1) * (y1 - y0)) // 2))
        |        * (w * h)
        |      > (w * h * rgb0 + 2 * h * ((w * (w - 1)) // 2)
        |          + 2 * w * ((h * (h - 1)) // 2))
        |        * ((x1 - x0) * (y1 - y0))
        |    THEN '1' ELSE '0' END AS bit
        |  FROM cells),
        |hashes AS (
        |  SELECT doc_id, string_agg(bit, '' ORDER BY i, j) AS ahash
        |  FROM bits GROUP BY doc_id)
        |SELECT ahash, COUNT(*) AS n_images, MIN(doc_id) AS first_doc
        |FROM hashes GROUP BY ahash ORDER BY ahash""".stripMargin,

    // closed forms of the decoded BMP stats: w/h from the synthesis
    // formulas, file size = 54-byte headers + padded-row pixel array,
    // channel means = gradient base + mean x/y offsets (no per-pixel
    // value wraps 255, so the means are exact)
    "q60_multimodal" ->
      """WITH g AS (SELECT doc_id, lang, n_chars,
        |    8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(54 + ((3 * w + 3) // 4) * 4 * h AS INT) AS n_bytes,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  ROUND((7 * doc_id + 3) % 200 + (w - 1) / 2.0 + (h - 1) / 2.0, 6)
        |    AS mean_r,
        |  ROUND(n_chars % 150 + (h - 1) / 2.0, 6) AS mean_g,
        |  ROUND(doc_id % 100 + (w - 1) / 2.0, 6) AS mean_b,
        |  lang AS meta_lang
        |FROM g ORDER BY doc_id""".stripMargin,

    // closed forms of the sawtooth synthesis (see sources/Audio):
    // n = p*c samples, mean 0, rms = A*sqrt((p^2-1)/3), peak = A*(p-1),
    // zero crossings = 2c-1, 44-byte canonical header + 2 bytes/sample
    "q239_audio_decode" ->
      """WITH g AS (SELECT doc_id, lang,
        |    2 * (1 + doc_id % 5) AS p,
        |    50 + doc_id % 25 AS c,
        |    100 * (1 + doc_id % 8) AS a
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(44 + 2 * p * c AS INT) AS n_bytes,
        |  8000 AS sample_rate,
        |  CAST(p * c AS INT) AS n_samples,
        |  ROUND(1000.0 * p * c / 8000, 3) AS duration_ms,
        |  0.0 AS mean_amp,
        |  ROUND(a * SQRT((p * p - 1.0) / 3.0), 6) AS rms,
        |  CAST(a * (p - 1) AS INT) AS peak,
        |  CAST(2 * c - 1 AS INT) AS zero_cross,
        |  lang AS meta_lang
        |FROM g ORDER BY doc_id""".stripMargin,

    // y4m closed forms: header built as the same string both sides;
    // frame = 6-byte FRAME marker + 3 planes; luma gradient means
    // y0+(w-1)/2+(h-1)/2+2t; constant-shift frames ⇒ motion 2.0
    "q244_video_decode" ->
      """WITH g AS (SELECT doc_id, lang,
        |    8 + doc_id % 5 AS w, 8 + doc_id % 3 AS h,
        |    4 + doc_id % 4 AS f, doc_id % 100 AS y0
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(LENGTH('YUV4MPEG2 W' || w || ' H' || h ||
        |      ' F25:1 Ip A1:1 C444') + 1
        |    + f * (6 + 3 * w * h) AS INT) AS n_bytes,
        |  CAST(w AS INT) AS width, CAST(h AS INT) AS height,
        |  CAST(f AS INT) AS n_frames, 25 AS fps,
        |  ROUND(1000.0 * f / 25, 3) AS duration_ms,
        |  ROUND(y0 + (w - 1) / 2.0 + (h - 1) / 2.0, 6)
        |    AS mean_luma_first,
        |  ROUND(y0 + (w - 1) / 2.0 + (h - 1) / 2.0 + 2 * (f - 1), 6)
        |    AS mean_luma_last,
        |  2.0 AS motion_energy,
        |  lang AS meta_lang
        |FROM g ORDER BY doc_id""".stripMargin,

    "q219_bm25" -> bm25OracleSql,

    // identical result contract: the materialized index must reproduce
    // the direct-scan scores exactly
    "q222_bm25_indexed" -> bm25OracleSql,

    // the token fingerprint fold is the q59 arithmetic, run inside a
    // nested lambda; per-token log ratios round to 6 and sum as exact
    // decimals (list_sum of an empty list is NULL -> coalesce 0)
    "q225_dsir_weights" ->
      """WITH base AS (SELECT doc_id, lang, source,
        |    list_filter(regexp_split_to_array(LOWER(text), '[^a-z0-9]+'),
        |      x -> LENGTH(x) > 0) AS tk
        |  FROM documents),
        |tok AS (SELECT lang,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(SUBSTRING(t, 1, 256), ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (h, c) -> (h * 31 + c) % 1000000000000000) % 64 AS b
        |  FROM (SELECT lang, unnest(tk) AS t FROM base)),
        |bc AS (SELECT b, COUNT(*) FILTER (lang = 'en') AS ct,
        |    COUNT(*) AS cs FROM tok GROUP BY b),
        |dense AS (SELECT r AS b, COALESCE(ct, 0) AS ct,
        |    COALESCE(cs, 0) AS cs
        |  FROM range(64) t(r) LEFT JOIN bc ON bc.b = t.r),
        |tots AS (SELECT SUM(ct) AS tt, SUM(cs) AS ts FROM dense),
        |lr AS (SELECT b,
        |    LN(((ct + 1.0) / (tt + 64.0)) / ((cs + 1.0) / (ts + 64.0)))
        |      AS lr
        |  FROM dense CROSS JOIN tots),
        |lrarr AS (SELECT list(lr ORDER BY b) AS lrs FROM lr),
        |w AS (SELECT doc_id, source,
        |    COALESCE(list_sum(list_transform(tk, t ->
        |      CAST(ROUND(lrs[CAST(
        |        list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(SUBSTRING(t, 1, 256), ''),
        |            c -> CAST(ascii(c) AS BIGINT))),
        |          (h, c) -> (h * 31 + c) % 1000000000000000) % 64
        |        AS INT) + 1], 6) AS DECIMAL(38,6)))),
        |      CAST(0 AS DECIMAL(38,6))) AS w
        |  FROM base CROSS JOIN lrarr)
        |SELECT source, COUNT(*) AS n_docs,
        |  ROUND(CAST(SUM(w) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
        |    AS avg_weight
        |FROM w GROUP BY source ORDER BY source""".stripMargin,

    "q220_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id,
        |    list_distinct(regexp_split_to_array(text, '\s+')) AS tk
        |  FROM documents),
        |q0 AS (SELECT tk AS qtk FROM toks WHERE doc_id = 0),
        |lexs AS (SELECT t.doc_id,
        |    CAST(len(list_intersect(t.tk, q0.qtk)) AS DOUBLE)
        |      / CAST(len(list_distinct(t.tk || q0.qtk)) AS DOUBLE) AS jac
        |  FROM toks t CROSS JOIN q0 WHERE t.doc_id <> 0),
        |lex AS (SELECT doc_id, CAST(rk AS INT) AS lex_rk FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY jac DESC, doc_id)
        |      AS rk FROM lexs) WHERE rk <= 20),
        |e0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |vecs AS (SELECT d.vec_id AS doc_id,
        |    list_sum(list_transform(list_zip(d.embedding, e0.qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        |    / (SQRT(list_sum(list_transform(d.embedding,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))
        |      * SQRT(list_sum(list_transform(e0.qe,
        |        v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))) AS cos
        |  FROM embeddings d CROSS JOIN e0 WHERE d.vec_id <> 0),
        |vec AS (SELECT doc_id, CAST(rk AS INT) AS vec_rk FROM (
        |    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)
        |      AS rk FROM vecs) WHERE rk <= 20),
        |fused AS (SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
        |    ROUND(COALESCE(1.0 / (60.0 + CAST(lex_rk AS DOUBLE)), 0.0)
        |      + COALESCE(1.0 / (60.0 + CAST(vec_rk AS DOUBLE)), 0.0), 6)
        |      AS rrf,
        |    lex_rk, vec_rk
        |  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id)
        |SELECT doc_id, rrf, lex_rk, vec_rk FROM fused
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "q264_doremi_weights" ->
      """WITH toks AS (
        |  SELECT doc_id, source,
        |    unnest(generate_series(1, len(string_split(text, ' '))))
        |      AS pos,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tf AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
        |tot AS (SELECT COUNT(*) AS nt FROM toks),
        |scored AS (
        |  SELECT doc_id, source, pos,
        |    -LN(CAST(tf.tf AS DOUBLE) / CAST(nt AS DOUBLE)) AS lnp
        |  FROM toks JOIN tf ON toks.tok = tf.tok CROSS JOIN tot),
        |perdoc AS (
        |  SELECT doc_id, source,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE), LIST(lnp ORDER BY pos)),
        |      (a, x) -> a + x) / CAST(COUNT(*) AS DOUBLE) AS avg_nll
        |  FROM scored GROUP BY doc_id, source),
        |bysrc AS (SELECT source, COUNT(*) AS n_docs,
        |    SUM(CAST(avg_nll AS DECIMAL(38,18))) AS s
        |  FROM perdoc GROUP BY source),
        |g AS (SELECT SUM(n_docs) AS n_all, SUM(s) AS s_all FROM bysrc),
        |ex AS (SELECT source, n_docs,
        |    CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_nll,
        |    CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |      - CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE) AS excess,
        |    (CAST(n_docs AS DOUBLE) / CAST(n_all AS DOUBLE))
        |      * EXP(CAST(s AS DOUBLE) / CAST(n_docs AS DOUBLE)
        |        - CAST(s_all AS DOUBLE) / CAST(n_all AS DOUBLE)) AS wraw
        |  FROM bysrc, g),
        |z AS (SELECT list_reduce(
        |    list_prepend(CAST(0 AS DOUBLE), LIST(wraw ORDER BY source)),
        |    (a, x) -> a + x) AS z FROM ex)
        |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
        |  ROUND(mean_nll, 6) AS mean_nll, ROUND(excess, 6) AS excess,
        |  ROUND(wraw / z, 6) AS weight
        |FROM ex, z ORDER BY source""".stripMargin,

    "q267_bigram_ppl" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(generate_series(1, len(string_split(text, ' '))))
        |      AS pos,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |bg AS (SELECT doc_id, pos, tok, nxt FROM (
        |    SELECT doc_id, pos, tok,
        |      LEAD(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos)
        |        AS nxt
        |    FROM toks) WHERE nxt IS NOT NULL),
        |c2 AS (SELECT tok, nxt, COUNT(*) AS c2 FROM bg GROUP BY 1, 2),
        |c1 AS (SELECT tok, SUM(c2) AS c1 FROM c2 GROUP BY tok),
        |v AS (SELECT COUNT(DISTINCT tok) AS v FROM toks),
        |scored AS (SELECT bg.doc_id, bg.pos,
        |    -LN(CAST(c2.c2 + 1 AS DOUBLE) / CAST(c1.c1 + v AS DOUBLE))
        |      AS lnp
        |  FROM bg JOIN c2 ON bg.tok = c2.tok AND bg.nxt = c2.nxt
        |  JOIN c1 ON bg.tok = c1.tok CROSS JOIN v),
        |agg AS (SELECT doc_id, COUNT(*) AS n_bigrams,
        |    list_reduce(
        |      list_prepend(CAST(0 AS DOUBLE), LIST(lnp ORDER BY pos)),
        |      (a, x) -> a + x) AS nll
        |  FROM scored GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  ROUND(nll / CAST(n_bigrams AS DOUBLE), 6) AS avg_nll,
        |  ROUND(EXP(nll / CAST(n_bigrams AS DOUBLE)), 6) AS ppl
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q265_feature_hash" ->
      """WITH f AS (
        |  SELECT o_orderkey, unnest(ARRAY[
        |    'priority=' || o_orderpriority,
        |    'status=' || o_orderstatus]) AS f
        |  FROM orders),
        |h AS (SELECT o_orderkey,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(f, ''),
        |        c -> CAST(ascii(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000000000000) AS hv
        |  FROM f)
        |SELECT o_orderkey, hv % 16 AS idx,
        |  CAST(SUM(CASE WHEN (hv // 16) % 2 = 1 THEN 1 ELSE -1 END)
        |    AS BIGINT) AS val
        |FROM h GROUP BY o_orderkey, hv % 16
        |ORDER BY o_orderkey, idx""".stripMargin
  )
}
