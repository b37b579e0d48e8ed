package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Exact._
import graft.Stage.StageOps
import graft.Tables
import graft.functions.Portable._
import graft.functions.VectorDot.{cos6, vdot}
import graft.functions.VectorDotLong.vdotl

/** Similarity search over the embeddings table: brute-force cosine,
  * Charikar sign-bucket LSH, IVF, k-means cells, int8 quantization,
  * kNN graph/label eval, recall monitoring, multi-probe.
  *
  * Implementation module of [[Pipeline]] (mixed into the one public
  * object; members are package-private to graft.queries). Split from
  * the former monolith in round 12 with zero behavior change. */
trait PipelineVectors extends PipelineText {


  // ---- similarity search -------------------------------------------------

  /** Brute-force cosine top-k: the correctness baseline for ANN. The probe
    * set (5 vectors) is broadcast against one scan of the corpus — a
    * broadcast nested loop that is linear in corpus size. Top-k is
    * two-phase: a salted local top-k bounds any reducer's input to k×salts
    * rows per probe (a single per-probe window would funnel the whole
    * corpus through one reducer per probe), then the global top-k ranks
    * the survivors — provably the same rows, so the oracle is single-phase
    * SQL. Similarity is rounded to 6 decimals BEFORE ranking so engine
    * summation-order noise (≈1e-15) can never flip an ordering. */
  private[queries] def p04AnnCosineTopk: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
    val probes = e.select(col("vec_id").as("probe_id"), col("v").as("pv"),
      col("nrm").as("pnrm")).filter(col("probe_id") < 5)
    val sims = e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm")).as("sim"))
    val local = Window.partitionBy(col("probe_id"), pmod(hash(col("vec_id")), lit(64)))
      .orderBy(col("sim").desc, col("vec_id").asc)
    val global = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    sims.withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= 10)
      .withColumn("rnk", row_number().over(global))
      .filter(col("rnk") <= 10)
      .select("probe_id", "vec_id", "rnk", "sim")
  }


  /** Embedding dimensionality of the corpus (TESTDATA.md: 64-float
    * vectors at every scale factor). The random hyperplanes below are
    * declared at this width; a production build reads it from the table
    * schema once at plan time. */
  private[graft] val AnnDim = 64


  /** splitmix64 finalizer (Steele et al., public) — the deterministic
    * per-(plane, dim) coin for the hyperplane signs. Runs at PLAN time
    * only; the resulting constants are embedded in both engines. */
  private[queries] def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }


  /** Hyperplane `plane` as Rademacher ±1 coefficients (Achlioptas 2003's
    * database-friendly projections): a full-rank random direction, unlike
    * the axis-aligned bit-sampling this family replaced — p72's monitor
    * measured the first-8-dims sign bucket at ≈0.03 mean recall@3 because
    * dense-embedding mass is spread across ALL dimensions and the first
    * few carry almost no locality. ±1 coefficients (not gaussians) keep
    * the cross-engine contract exact: each product is ±v[i] with NO
    * rounding, so both engines sum bit-identical doubles in array order
    * and the sign can never diverge. */
  private[graft] def hyperplaneSigns(plane: Int): IndexedSeq[Float] =
    (0 until AnnDim).map { j =>
      if (mix64(plane.toLong * 0x100000001B3L + j) < 0) -1f else 1f
    }


  /** Hyperplane count for the ANN sign bucket: 2^4 = 16 buckets,
    * deliberately BUDGET-MATCHED to p20's 16 IVF cells so p72's monitor
    * compares the two index families at the same candidate fraction
    * (~1/16 of the corpus per probe) instead of handing IVF a 16×
    * coverage head start — the flaw in the retired 8-bit bucket, whose
    * 256 buckets searched 0.4% of the corpus and recalled accordingly.
    * The budget match (and the sweep below) is calibrated at the gate
    * corpus, where the corpus-scaled IVF codebook floors at 16 cells;
    * the PAIRWISE sign-bucket path scales its width with the corpus
    * instead ([[annPairBits]] — a fixed width is quadratic there), and
    * a production probe-search build would pick this width from its
    * target candidate fraction the same way. The
    * measured sweep on this corpus (PLANS.md round 11): 4-bit Charikar
    * single-bucket 0.167 recall@3 at 6.2% candidates, Hamming≤1
    * multi-probe 0.55 at 31%, vs IVF 0.833 at 6.2% — the data-dependent
    * quantizer still wins on weakly-clustered data, and now the monitor
    * proves it fairly. */
  private[graft] val AnnBits = 4


  /** Corpus-scaled sign-bucket width for the PAIRWISE consumers (p13's
    * cosine near-dup and p49 riding it): probe-search ops (p05/p104)
    * keep the fixed [[AnnBits]] probe budget — their per-probe work is
    * corpus/2^bits, linear for a fixed probe set — but a corpus-wide
    * same-bucket self-join pays Σ|bucket|² ≈ N²/2^bits, quadratic at
    * any FIXED width. The width therefore grows with the corpus:
    * smallest b in [[[AnnBits]], [[AnnPairMaxBits]]] with
    * N ≤ [[AnnPairTarget]]·2^b, keeping buckets ≈ target and pair work
    * linear — the same sizing discipline as the k-means/IVF codebooks,
    * and integer-exact in both engines ([[sqlAnnPairBits]] generates
    * the identical threshold CASE, so no float log2 can diverge). The
    * recall trade is the standard single-table LSH one — narrower
    * buckets miss more distant near-dups — and the honest scale answer
    * past the 16-bit cap (corpus > 4.2M vectors at target 64) is more
    * tables/multi-probe, not wider buckets. At the sf0.01 gate corpus
    * (500 vectors) the floor holds and outputs are unchanged. */
  private[graft] val AnnPairTarget = 64L

  private[graft] val AnnPairMaxBits = 16

  private[graft] def annPairBits(n: Long): Int =
    (AnnBits to AnnPairMaxBits)
      .find(b => n <= (AnnPairTarget << b)).getOrElse(AnnPairMaxBits)

  /** DuckDB twin of [[annPairBits]] over relation `rel`: a descending
    * integer-threshold CASE generated from the same constants. */
  private[queries] def sqlAnnPairBits(rel: String): String =
    "(SELECT CASE " +
      (AnnPairMaxBits to (AnnBits + 1) by -1).map(b =>
        s"WHEN cnt > ${AnnPairTarget << (b - 1)} THEN $b ").mkString +
      s"ELSE $AnnBits END FROM (SELECT count(*) AS cnt FROM $rel) t)"


  /** Charikar (2002) random-hyperplane sign bucket of embedding column
    * `v`: bit p = sign(v · r_p) over [[hyperplaneSigns]], as a `bits`-char
    * '0'/'1' string. P(bit differs) = angle/π per hyperplane, so Hamming
    * distance between buckets estimates the angle — the property the
    * multi-probe fan-out (p104) exploits. The dot rides the codegen'd
    * [[graft.functions.VectorDot]] against a constant-folded literal
    * array: one tight fused loop per bit, same plan shape and cost as the
    * old first-k-dims bucket.
    *
    * The [[AnnDim]] contract is enforced LOUDLY: VectorDot returns NULL
    * on a length mismatch or a NULL element, and an `otherwise("0")`
    * would silently absorb that into an all-'0' bucket while the DuckDB
    * twin's `list_sum` skips NULL products and signs the partial dot —
    * an engine divergence latent until the first malformed vector. Each
    * bit instead raises on a NULL dot, so off-contract vectors fail the
    * job instead of polluting one bucket on one engine. */
  private[graft] def signBucket(v: Column, bits: Int): Column =
    concat_ws("", (0 until bits).map { p =>
      val d = vdot(v, array(hyperplaneSigns(p).map(f => lit(f)): _*))
      when(d >= 0, lit("1")).when(d < 0, lit("0"))
        .otherwise(raise_error(concat(
          lit(s"signBucket: embedding violates the $AnnDim-dim " +
            "non-null contract: "), col("vec_id").cast("string"))))
    }: _*)


  /** The DuckDB twin of [[signBucket]], generated from the SAME
    * [[hyperplaneSigns]] constants (the p89 oracle-generation rule: one
    * declared source, two engines, drift impossible). `v` must name a
    * DOUBLE list column in scope. */
  private[graft] def sqlSignBucket(v: String, bits: Int): String =
    (0 until bits).map { p =>
      val coefs = hyperplaneSigns(p)
        .map(f => if (f > 0) "1.0" else "-1.0").mkString(", ")
      s"""(CASE WHEN list_sum(list_transform(generate_series(1, $AnnDim),
         |    i -> $v[i] * list_extract([$coefs], i))) >= 0
         |    THEN '1' ELSE '0' END)""".stripMargin
    }.mkString(" || ")


  /** LSH-bucketed ANN (the scale path): bucket every vector by its
    * Charikar random-hyperplane sign pattern ([[signBucket]], [[AnnBits]]
    * seeded hyperplanes → 2^[[AnnBits]] buckets), then search ONLY within
    * the probe's bucket. Candidate generation is an equi-join on the
    * bucket key: work per probe is |corpus|/2^bits instead of |corpus|,
    * with the bit width the budget knob (see [[AnnBits]]). Deterministic
    * hyperplanes keep the DuckDB oracle exact. */
  private[queries] def p05AnnLshBucketed: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
      .withColumn("bucket", signBucket(col("v"), AnnBits))
    val probes = e.select(col("vec_id").as("probe_id"), col("v").as("pv"),
      col("nrm").as("pnrm"), col("bucket")).filter(col("probe_id") < 20)
    val sims = e.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm")).as("sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("probe_id", "vec_id", "rnk", "sim")
  }


  /** IVF (inverted-file) ANN — the second scale path next to p05's LSH.
    * A small coarse-quantizer codebook is broadcast, every vector is
    * assigned to its nearest centroid in one map pass + one keyed argmax,
    * and probes search ONLY their own cell: work per probe is
    * |corpus|/|cells|, and the assignment is reusable across queries
    * (that is the IVF index). The codebook here is the first 16 vectors —
    * a deterministic stand-in for k-means centroids, which keeps the
    * DuckDB oracle bit-exact; a production build would train the codebook
    * offline and broadcast it the same way. */
  /** IVF cell assignment shared by every IVF consumer (p20 probe
    * search, p33 kNN graph, p72/p104's monitored variant, p125's flat
    * reference, and the p135 serving op): every vector keyed to its
    * nearest codebook centroid via a broadcast crossJoin + per-vector
    * argmax — one map-side pass, one keyed shuffle for the argmax
    * window. Held as a named ARTIFACT — this (vec_id, cell)
    * assignment IS the IVF index — so within a session it is built once
    * and checkpointed for all consumers. */
  private[graft] def ivfAssigned(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.cached(s, d, "ivf_assigned") {
      buildIvfAssigned(s, d).staged
    }


  private def buildIvfAssigned(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
    val cents = e.filter(col("vec_id") < ivfK(s, d))
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nrm").as("cnrm"))
    val wAssign = Window.partitionBy("vec_id")
      .orderBy(col("csim").desc, col("cent_id").asc)
    // redistribute before the N×K scoring cross: the embeddings scan is
    // a couple of input splits at small corpus BYTES (60 MB at sf10),
    // and the per-vector×centroid cosine work — 1.2G products at sf10's
    // corpus-scaled K — would otherwise run on those few tasks while
    // the rest of the cluster idles (the sf10 straggler class in
    // Profile's per-stage max/median: compute-bound map stages inherit
    // byte-sized parallelism).
    // Width explicit (a keyed repartition without a count is
    // AQE-coalescible by BYTES, folding this FLOPs-bound stage to one
    // task at small rungs) and WORK-SCALED: N×K distance evaluations
    // are known at plan time, so small rungs get the few tasks their
    // work warrants instead of full-width scheduling (r18; the r17
    // flat pin cost p42 ~0.3 s at sf0.1), and big rungs still reach
    // every core.
    e.repartition(workWidth(s, embCount(s, d) * ivfK(s, d)), col("vec_id"))
      .crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id"),
        cos6(vdot(col("v"), col("cv")), col("nrm") * col("cnrm"))
          .as("csim"))
      .withColumn("arnk", row_number().over(wAssign))
      .filter(col("arnk") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("cent_id").as("cell"))
  }


  private[queries] def p20AnnIvf: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    val probes = assigned.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("cell"))
    val sims = assigned.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm")).as("sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("probe_id", "vec_id", "rnk", "sim")
  }


  /** Two-level (coarse→fine) IVF assignment + agreement audit — the
    * documented beyond-broadcast path of the corpus-scaled codebook,
    * as code instead of a caveat: with K = [[ivfK]] ∝ N centroids, a
    * flat argmin eventually means broadcasting a codebook too large
    * for executor memory (~10⁸ vectors at target 32) and paying N×K
    * dots. The standard hierarchy (FAISS IMI shape) fixes both: the
    * first C = ceil(√K) centroids serve as COARSE anchors (IEEE sqrt
    * is correctly rounded — fully specified, so both engines derive
    * the same C from the same K); every centroid is argmin-assigned
    * to its nearest anchor (K×C dots, tiny), every vector to its
    * nearest anchor (N×C dots, only the C-row anchor table
    * broadcasts), and then to its nearest centroid AMONG ITS ANCHOR'S
    * MEMBERS via a join keyed on the coarse cell — per-vector work
    * C + K/C ≈ 2√K instead of K, and the K-row member table moves as
    * an ordinary keyed join (AQE broadcasts it while it fits, shuffle
    * otherwise), never a mandatory broadcast. The hierarchy is
    * APPROXIMATE — a vector's true nearest centroid can live under a
    * different anchor — so the op emits the audit a production build
    * monitors before switching: the full K-cell grid (p100's rule)
    * with flat-vs-two-level member counts and their agreement. A
    * vector whose chosen anchor attracted no member centroids (anchor
    * c is itself a centroid, but an identical-vector tie can pull it
    * under a lower anchor) is dropped by the inner member join on
    * both engines alike and surfaces as Σn_twolevel < Σn_flat —
    * reported, not hidden. All similarity argmins use the house
    * round(·,6)-then-id ordering, so the audit is bit-exact. */
  private[queries] def p125AnnIvf2: Q = (s, d) => {
    val k = ivfK(s, d)
    val cNum = math.ceil(math.sqrt(k.toDouble)).toLong
    val flat = ivfAssigned(s, d) // (vec_id, v, nrm, cell) — checkpointed
    val cents = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .filter(col("vec_id") < k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        sqrt(vdot(col("v"), col("v"))).as("cnrm"))
    val coarse = cents.filter(col("cent_id") < cNum)
      .select(col("cent_id").as("co_id"), col("cv").as("gv"),
        col("cnrm").as("gnrm"))
    def toCoarse(df: DataFrame, idCol: String, vCol: String,
        nrmCol: String): DataFrame = {
      val w = Window.partitionBy(idCol)
        .orderBy(col("csim").desc, col("co_id").asc)
      df.crossJoin(broadcast(coarse))
        .select(col(idCol), col("co_id"),
          cos6(vdot(col(vCol), col("gv")), col(nrmCol) * col("gnrm"))
            .as("csim"))
        .withColumn("arnk", row_number().over(w))
        .filter(col("arnk") === 1)
        .select(col(idCol), col("co_id").as("coarse"))
    }
    val members = cents.join(toCoarse(cents, "cent_id", "cv", "cnrm"),
      "cent_id")
    val wFine = Window.partitionBy("vec_id")
      .orderBy(col("fsim").desc, col("cent_id").asc)
    val two = flat.select(col("vec_id"), col("v"), col("nrm"))
      .join(toCoarse(flat.select(col("vec_id"), col("v"), col("nrm")),
        "vec_id", "v", "nrm"), "vec_id")
      .join(members, Seq("coarse")) // un-hinted: AQE decides at scale
      .select(col("vec_id"), col("cent_id"),
        cos6(vdot(col("v"), col("cv")), col("nrm") * col("cnrm"))
          .as("fsim"))
      .withColumn("rnk", row_number().over(wFine))
      .filter(col("rnk") === 1)
      .select(col("vec_id"), col("cent_id").as("cell2"))
      .staged // read twice: its own census + the agreement join
    val grid = s.range(0, k).toDF("cell")
    val nFlat = flat.groupBy("cell").agg(count(lit(1)).as("n_flat"))
    val nTwo = two.groupBy(col("cell2").as("cell"))
      .agg(count(lit(1)).as("n_twolevel"))
    val nAgree = flat.select(col("vec_id"), col("cell"))
      .join(two, "vec_id")
      .filter(col("cell") === col("cell2"))
      .groupBy("cell").agg(count(lit(1)).as("n_agree"))
    grid.join(nFlat, Seq("cell"), "left_outer")
      .join(nTwo, Seq("cell"), "left_outer")
      .join(nAgree, Seq("cell"), "left_outer")
      .select(col("cell"),
        coalesce(col("n_flat"), lit(0L)).as("n_flat"),
        coalesce(col("n_twolevel"), lit(0L)).as("n_twolevel"),
        coalesce(col("n_agree"), lit(0L)).as("n_agree"))
  }


  /** kNN graph over ALL vectors, IVF-bucketed: each vector's top-3
    * cosine neighbors searched only within its centroid cell — the
    * |corpus|²→Σ|cell|² candidate reduction that makes a full
    * neighbor-graph build (the input to embedding-space dedup and
    * clustering) tractable. The per-vector top-k window reads at most
    * one cell, so no reducer ever sees more than a cell's worth of
    * candidates; finer codebooks shrink cells as the corpus grows. */
  private[queries] def p33KnnGraph: Q = (s, d) => {
    val assigned = ivfAssigned(s, d)
    // hot-cell salting, same mechanism and rationale as p94's prune
    // (round 16): an oversized IVF cell's |cell|² pair generation
    // otherwise lands on the one task owning that cell's partition
    val sims = saltedCellSelfJoin(assigned,
        assigned.select(col("cell"), col("vec_id").as("nbr_id"),
          col("v").as("nv"), col("nrm").as("nnrm")), "vec_id")
      .filter(col("vec_id") =!= col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        cos6(vdot(col("v"), col("nv")), col("nrm") * col("nnrm"))
          .as("sim"))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("sim").desc, col("nbr_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("vec_id", "nbr_id", "rnk", "sim")
  }


  /** Embedding-cosine near-dup pairs, LSH-bucketed with Hamming≤1
    * multi-probe: vectors carry their CORPUS-SCALED Charikar sign
    * pattern ([[annPairBits]] — buckets hold ≈[[AnnPairTarget]]
    * vectors at any corpus size, 4 bits at the gate corpus); one join
    * side additionally fans out to the `bits` buckets one flip away
    * (p104's Lv et al. 2007 idiom, applied PAIRWISE), so a near-dup
    * pair survives one disagreeing sign. Work is (bits+1)·Σ|bucket|²
    * ≈ N·target·log(N/target) — log-linear, where any fixed width
    * would go N²/2^bits quadratic. The width trade is MEASURED
    * (PLANS.md round 12): single-bucket recall of τ-passing pairs on
    * this corpus decays as pᵇ with p ≈ 0.63 (0.157/0.098/0.020 at
    * 4/5/9 bits — textbook Charikar, angle(τ=0.4) ≈ 66°), and the
    * Hamming≤1 fan-out recovers pᵇ + b·pᵇ⁻¹(1−p). Each unordered
    * pair surfaces exactly once — the probe side keeps only
    * vec_a < vec_b, and a Hamming-1 pair matches from exactly one
    * orientation — so no dedup stage is needed. */
  private[queries] def p13CosineNearDup: Q = (s, d) => {
    val bits = annPairBits(embCount(s, d))
    def sketch(src: DataFrame): DataFrame = src
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
      .withColumn("bucket", signBucket(col("v"), bits))
    // BOTH join inputs off the balanced scan (one shared exchange):
    // Catalyst folds the cosine + τ filter into the broadcast join
    // itself, so the verify's parallelism is whichever side STREAMS —
    // and the planner is free to broadcast either. Off the raw
    // single-file scan the streamed side was the input SPLIT count
    // (Profile `stages` at sf1: the whole verify on 4 tasks, 4×3.0 s
    // medians — the q19 under-split-scan class, not skew); balancing
    // the shared source makes the streamed side wide whichever way the
    // build choice goes. Tables.balanced self-disables on properly-
    // split 100 TB inputs.
    val eb = sketch(Tables.balanced(s, d, "embeddings", Seq("vec_id")))
    val probes = eb
      .select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("nrm").as("na"),
        explode(array(col("bucket") +:
          (1 to bits).map(i => flipBit(col("bucket"), i, bits)): _*))
          .as("bucket"))
    eb
      .select(col("bucket"), col("vec_id").as("vec_b"),
        col("v").as("vb"), col("nrm").as("nb"))
      .join(probes, Seq("bucket"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("sim", cos6(vdot(col("va"), col("vb")), col("na") * col("nb")))
      .filter(col("sim") >= 0.40)
      .select("vec_a", "vec_b", "sim")
  }


  /** Semantic (embedding-space) benchmark decontamination — the
    * paraphrase-robust complement to the LEXICAL decontamination family
    * (p38/p92/p109, all n-gram overlap): a reworded eval item shares no
    * long n-gram with its training-set leak, which is exactly why the
    * published release checks pair n-gram screens with an
    * embedding-similarity screen. Same cross-set contract as p92, in
    * p13's modality, over the SAME eval slice (doc_id ≡ 7 mod 29,
    * vec_id ≡ doc_id) — so the two instruments audit one split: a doc
    * flagged by BOTH leaked verbatim; flagged here alone is the
    * paraphrase case n-grams cannot see. Every train vector scores
    * exact cosine against every eval vector; pairs at sim ≥ 0.40 (p13's
    * near-dup threshold) flag the train doc, reported with its hit
    * count and best-matching eval doc (sim DESC, eval_id ASC ties).
    *
    * Scale shape: the eval side is benchmark-sized at ANY corpus size
    * (thousands of rows against 100 TB), so it BROADCASTS and the
    * corpus is read in ONE map-side scan — N·|eval| codegen'd
    * `vector_dot` products with no LSH machinery needed because |eval|
    * is a constant; the only shuffle is the doc-keyed window+agg over
    * the SPARSE flagged pairs. Round12OpsSpec replays the op
    * driver-side with the engine's exact arithmetic and reconciles the
    * verbatim-vs-paraphrase claim against p92's own flag set. */
  private[queries] def p126SemanticDecontam: Q =
    opArtifact("op_p126_semantic_decontam")(p126SemanticDecontamBuild)

  private def p126SemanticDecontamBuild: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
    val ev = e.filter(pmod(col("vec_id"), lit(29L)) === 7)
      .select(col("vec_id").as("eval_id"), col("v").as("evv"),
        col("nrm").as("enrm"))
    // train side balanced (change-9 class): the N·|eval| cosine screen
    // evaluates against the broadcast eval slice on the TRAIN side's
    // partitioning, which off the raw scan is the file's split count —
    // the brute screen's whole cost on a handful of tasks at any small
    // rung. Guard-disabled on properly-split 100 TB inputs.
    val hits = Tables.balanced(s, d, "embeddings", Seq("vec_id"))
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
      .filter(pmod(col("vec_id"), lit(29L)) =!= 7)
      .crossJoin(broadcast(ev))
      .withColumn("sim", cos6(vdot(col("v"), col("evv")), col("nrm") * col("enrm")))
      .filter(col("sim") >= 0.40)
      .select(col("vec_id").as("doc_id"), col("eval_id"), col("sim"))
    semanticFlagAgg(hits)
  }

  /** The (doc_id, eval_id, sim) → flagged-doc report shared by the
    * exact (p126) and IVF-served (p136) semantic screens: hit count
    * plus best-matching eval doc (sim DESC, eval_id ASC ties). The only
    * shuffle either screen pays — a doc-keyed window+agg over the
    * SPARSE flagged pairs. */
  private def semanticFlagAgg(hits: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("sim").desc, col("eval_id").asc)
    hits.withColumn("rnk", row_number().over(w))
      .groupBy("doc_id").agg(
        count(lit(1)).cast(IntegerType).as("n_eval_hits"),
        max(when(col("rnk") === 1, col("eval_id"))).as("best_eval_id"),
        max(when(col("rnk") === 1, col("sim"))).as("best_sim"))
  }

  /** IVF-SERVED semantic decontamination — p126's screen at serving
    * cost: train vectors score only against eval vectors whose probed
    * cells include the train vector's OWN IVF cell ([[ivfAssigned]] —
    * the shared, artifact-held coarse codebook every ANN consumer
    * reuses), so the pair work drops from N·|eval| to ≈ N·|eval|·P/K.
    * Same τ (0.40), same eval slice, same output contract as p126;
    * what it trades is RECALL — a contaminated pair whose vectors
    * straddle every probed cell boundary is missed.
    *
    * PRICED in round 17 (graft.tools.ServedRecall): at τ = 0.40 the
    * flagged train doc's cell is near-UNIFORM over the eval vector's
    * centroid ranking (this corpus's coarse codebook carries almost no
    * locality that far below nearest-neighbor similarity), so the
    * single-probe screen catches only ~14% of p126's flagged docs at
    * sf0.1 — IVF compresses top-k retrieval (p129's fused twin: 92–97
    * /100), not low-τ threshold screens. The gated query is P = 1;
    * [[servedSemanticScreen]] takes the probe count P as an argument
    * (graft.tools.ServedRecall prices it): the eval side —
    * benchmark-sized at ANY corpus — re-ranks against the broadcast
    * codebook and keeps its top-P cells, multiplying recall AND cost
    * by ~P (curve in PLANS.md). The exact screen remains the
    * release/weekly posture, and the served screen is a TREND monitor
    * whose flags are hit-for-hit exact (containment proof in
    * ServedScreenSpec) with a priced, dialable miss rate. */
  private[queries] def p136SemanticDecontamIvf: Q =
    opArtifact("op_p136_semantic_decontam_ivf")(servedSemanticScreen(1))

  /** p136's served screen at `probes` IVF cells per eval vector. Not
    * artifact-held: only P = 1 is a gate query. */
  private[graft] def servedSemanticScreen(probes: Int): Q = (s, d) => {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    val assigned = ivfAssigned(s, d) // (vec_id, v, nrm, cell)
    val evBase = assigned.filter(pmod(col("vec_id"), lit(29L)) === 7)
    val ev =
      if (probes == 1)
        // single probe: the artifact's own argmax assignment, verbatim
        evBase.select(col("cell"), col("vec_id").as("eval_id"),
          col("v").as("evv"), col("nrm").as("enrm"))
      else {
        // multi-probe: re-rank the (tiny) eval side against the same
        // broadcast codebook (the first-K rows of the artifact itself)
        // and keep its top-P cells — |eval|·K extra dots, nothing
        // corpus-scaled; P = 1 of this ranking IS the argmax above
        val cents = assigned.filter(col("vec_id") < ivfK(s, d))
          .select(col("vec_id").as("cent_id"), col("v").as("cv"),
            col("nrm").as("cnrm"))
        val w = Window.partitionBy("eval_id")
          .orderBy(col("csim").desc, col("cent_id").asc)
        evBase.select(col("vec_id").as("eval_id"), col("v").as("evv"),
            col("nrm").as("enrm"))
          .crossJoin(broadcast(cents))
          .withColumn("csim",
            cos6(vdot(col("evv"), col("cv")), col("enrm") * col("cnrm")))
          .withColumn("arnk", row_number().over(w))
          .filter(col("arnk") <= probes)
          .select(col("cent_id").as("cell"), col("eval_id"),
            col("evv"), col("enrm"))
      }
    val hits = assigned.filter(pmod(col("vec_id"), lit(29L)) =!= 7)
      .join(ev, Seq("cell")) // eval side is benchmark-sized → broadcast
      .withColumn("sim", cos6(vdot(col("v"), col("evv")), col("nrm") * col("enrm")))
      .filter(col("sim") >= 0.40)
      .select(col("vec_id").as("doc_id"), col("eval_id"), col("sim"))
    semanticFlagAgg(hits)
  }


  /** Reciprocal-rank-fusion constant k = 60 (Cormack et al. 2009 — the
    * value the paper fixed and every production hybrid stack inherited). */
  private[graft] val RrfK = 60L

  /** Exact-integer RRF scale: lcm(k+1 .. k+topK) — every 1/(k+rank)
    * becomes the exact integer RrfScale/(k+rank) (the divisor always
    * divides the scale), so fusion scores are int64-exact on both
    * engines; max term ≈ 2.3e12, two-system sums nowhere near 2^63. */
  private[graft] val RrfScale: Long = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (RrfK + 1 to RrfK + Bm25TopK).foldLeft(1L)((l, x) => l / gcd(l, x) * x)
  }

  /** Hybrid retrieval via reciprocal rank fusion — the production RAG
    * stack's standard shape (Cormack et al. 2009: RRF "outperforms the
    * best individual run" by fusing rank lists, no score calibration
    * needed): p74's BM25 lexical top-10 and an exact-cosine embedding
    * top-10 over the SAME ten probe docs (vec_id ≡ doc_id), fused per
    * (probe, doc) as Σ 1/(60+rank) over the lists the doc appears in.
    * Scores are EXACT int64 ([[RrfScale]]/(60+rank) — the divisor
    * always divides the scale), so the fusion, its ordering, and the
    * DuckDB twin agree bit for bit; rank 0 is the documented "not in
    * that system's top-10" sentinel (never a NULL int — nullable-int
    * dtypes diverge between engines' dataframe bridges).
    *
    * Scale shape: both input rankings are already bounded (BM25 pays
    * the inverted-index Σdf(t) work, ANN one broadcast-probes × corpus
    * scan); the fusion itself touches ≤ probes×2·topK rows — a
    * full-outer join on (probe, doc) plus a window over ≤ 20 rows per
    * probe. At 100 TB the expensive parts are the two retrievals the
    * engine already runs; fusion cost is constant. */
  private[queries] def p127RrfFusion: Q = (s, d) =>
    rrfFusedTopDocs(docsBalanced(s, d),
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding").as("v")),
      probeMax = 10L)


  /** The p127 core over any `(doc_id, text)` + `(vec_id, v)` frame
    * pair, probes = id < probeMax — the planted-fixture spec feeds it a
    * lexical twin (near-copy text, orthogonal embedding) and an
    * embedding twin (same direction, unrelated text) of one probe and
    * asserts each surfaces through its OWN system into the fused
    * top-k: retrieval semantics, beyond the arithmetic replay. */
  private[graft] def rrfFusedTopDocs(docsIn: DataFrame, vecsIn: DataFrame,
      probeMax: Long): DataFrame = {
    val bm25 = bm25TopDocs(docsIn, probeMax)
      .select(col("probe_id"), col("doc_id"), col("rnk").as("bm25_rnk"))
    val e = vecsIn
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
    val probes = e.select(col("vec_id").as("probe_id"), col("v").as("pv"),
      col("nrm").as("pnrm")).filter(col("probe_id") < probeMax)
    val ann = annTopRanks(e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("doc_id"),
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm"))
          .as("sim")), "ann_rnk")
    rrfFuse(bm25, ann)
  }


  /** The p04 salted two-phase top-k over (probe_id, doc_id, sim) rows
    * (sim rounded to 6dp BEFORE ranking so summation-order noise can
    * never flip an ordering) — the ONE copy of the ranking idiom shared
    * by the exact hybrid (p127) and both of p129's branches. */
  private[queries] def annTopRanks(sims: DataFrame,
      rankCol: String): DataFrame = {
    val local = Window
      .partitionBy(col("probe_id"), pmod(hash(col("doc_id")), lit(64)))
      .orderBy(col("sim").desc, col("doc_id").asc)
    val global = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("doc_id").asc)
    sims.withColumn("lrnk", row_number().over(local))
      .filter(col("lrnk") <= Bm25TopK)
      .withColumn(rankCol, row_number().over(global).cast(IntegerType))
      .filter(col(rankCol) <= Bm25TopK)
      .select("probe_id", "doc_id", rankCol)
  }


  /** The RRF fusion tail over any two (probe_id, doc_id, *_rnk) rank
    * lists — shared by the exact hybrid (p127) and the IVF-served
    * hybrid inside p129's audit. */
  private[queries] def rrfFuse(bm25: DataFrame, ann: DataFrame)
      : DataFrame = {
    def term(rnk: Column): Column =
      when(rnk > 0, ldiv(lit(RrfScale), lit(RrfK) + rnk.cast(LongType)))
        .otherwise(lit(0L))
    val fused = bm25.join(ann, Seq("probe_id", "doc_id"), "full_outer")
      .select(col("probe_id"), col("doc_id"),
        coalesce(col("bm25_rnk"), lit(0)).as("bm25_rnk"),
        coalesce(col("ann_rnk"), lit(0)).as("ann_rnk"))
      .withColumn("rrf_q", term(col("bm25_rnk")) + term(col("ann_rnk")))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("rrf_q").desc, col("doc_id").asc)
    fused.withColumn("rnk", row_number().over(w).cast(IntegerType))
      .filter(col("rnk") <= Bm25TopK)
      .select("probe_id", "doc_id", "rnk", "rrf_q", "bm25_rnk", "ann_rnk")
  }


  /** The IVF-SERVED hybrid retrieval — p127's fused top-k with the
    * ANN branch served from the IVF index instead of the exact brute
    * scan: the SERVING posture at 100 TB (each probe searches only
    * its own cell, work |corpus|/|cells|), priced by p129's audit
    * (fused recall@10 97/100 at sf0.01, 92/100 at sf0.1) and mirrored
    * by the streaming hybrid's `ivfCentroids` branch — batch and
    * stream now share the posture through ONE builder
    * ([[ivfFusedTopDocs]]; the oracle likewise embeds one text,
    * sqlP135, in both this op and p129's approximate side).
    *
    * Scale shape: BM25 as in p127 (bounded inverted-index work); the
    * ANN branch is a cell-keyed equi-join of probes against ONLY
    * their own cell's members — never corpus × probes; fusion over
    * ≤ probes×2·topK rows. */
  private[queries] def p135RrfIvfServing: Q = (s, d) =>
    ivfFusedTopDocs(s, d,
      bm25TopDocsServed(s, d, probeMax = 10L)
        .select(col("probe_id"), col("doc_id"),
          col("rnk").as("bm25_rnk")))


  /** The ONE builder of the IVF-fused list, shared by p135 (the
    * serving op, which passes its own BM25 branch) and p129 (the
    * audit, which passes its STAGED branch so both fusions read one
    * BM25 build) — serving and audit cannot drift. */
  private[graft] def ivfFusedTopDocs(s: SparkSession, d: String,
      bm25: DataFrame): DataFrame = {
    val assigned = ivfAssigned(s, d)
    val cellProbes = assigned.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("cell"))
    val annIvf = annTopRanks(assigned.join(cellProbes, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("doc_id"),
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm"))
          .as("sim")), "ann_rnk")
    rrfFuse(bm25, annIvf)
  }


  /** Hybrid-retrieval approximation audit — what serving p127's fusion
    * from the SCALE-PATH index costs: at 100 TB the ANN branch cannot
    * be the exact brute scan, it is the IVF index ([[ivfAssigned]] —
    * probes search only their own cell, work |corpus|/|cells| per
    * probe), and an approximate branch changes the FUSED list, not
    * just the ANN list. Per probe, the audit fuses BM25 with both ANN
    * branches and reports the exact-fused and IVF-fused top-10 sizes
    * plus their overlap — recall@10 of the servable hybrid against the
    * exact one, the number that decides whether the cheap index is
    * good enough to serve (the p72/p93 recall-monitoring discipline
    * applied to the fused product). The BM25 branch is shared (built
    * once, staged); each fusion is the same exact-int64 RRF. */
  private[queries] def p129RrfIvfAudit: Q = (s, d) => {
    val bm25 = bm25TopDocsServed(s, d, probeMax = 10L)
      .select(col("probe_id"), col("doc_id"), col("rnk").as("bm25_rnk"))
      .staged // read by both fusions
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
    val probes = e.select(col("vec_id").as("probe_id"), col("v").as("pv"),
      col("nrm").as("pnrm")).filter(col("probe_id") < 10)
    val annExact = annTopRanks(e.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("doc_id"),
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm"))
          .as("sim")), "ann_rnk")
    val exactTop = rrfFuse(bm25, annExact)
      .select(col("probe_id"), col("doc_id")).staged
    val ivfTop = ivfFusedTopDocs(s, d, bm25)
      .select(col("probe_id"), col("doc_id"))
    val nExact = exactTop.groupBy("probe_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_exact"))
    val nIvf = ivfTop.groupBy("probe_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_ivf"))
    val nBoth = exactTop.join(ivfTop, Seq("probe_id", "doc_id"))
      .groupBy("probe_id")
      .agg(count(lit(1)).cast(IntegerType).as("n_overlap"))
    nExact.join(nIvf, Seq("probe_id"), "left_outer")
      .join(nBoth, Seq("probe_id"), "left_outer")
      .select(col("probe_id"), col("n_exact"),
        coalesce(col("n_ivf"), lit(0)).as("n_ivf"),
        coalesce(col("n_overlap"), lit(0)).as("n_overlap"))
  }


  /** BM25 index-staleness audit — the honest cost of the
    * term-at-a-time precomputation [[graft.queries.PipelineText
    * .bm25Postings]] banks on: every posting's integer score term bakes
    * in GLOBAL statistics (df in idf, avgdl in the length norm, D in
    * both), so an incremental crawl does not just ADD postings — it
    * silently stales every existing posting whose token's df moved or
    * whose denominator's avgdl drifted, which is exactly why production
    * impact-ordered indexes rebuild on a cadence instead of patching.
    * This op puts a number on that: the index built from the standing
    * corpus (the p36/p65 arrival convention — the doc_id ≡ 0 mod 10
    * slice is the arriving batch) is full-outer-diffed against the
    * index built from the corpus WITH the batch, per (token, posting):
    * `new` (batch docs' postings + tokens the new df admits), `retired`
    * (tokens the grown df prunes — impact pruning is df·20 ≤ D, so
    * growth can EVICT), `changed` (score drifted; max |Δterm_q| says
    * how far), `unchanged`. All four rows always emit (the p100 grid
    * rule); max_abs_dq is NULL where Δ is undefined (one-sided rows)
    * and 0.0 for unchanged — a DOUBLE, never a nullable int.
    *
    * Scale shape: two index builds (each the p74-bounded tf chain) and
    * ONE (token, doc)-keyed full-outer join — postings-sized, never
    * corpus²; the census is a 4-row aggregate. */
  private[queries] def p128IndexStaleness: Q = (s, d) => {
    import s.implicits._
    // ONE corpus scan: per-doc term counts are corpus-independent, so
    // the standing index's tf is exactly the full tf filtered — only
    // the global stats (df, avgdl, D) recompute per state, which is
    // the drift the audit measures
    val tf = bigramPairs(docsBalanced(s, d))
      .select(col("doc_id"),
        concat_ws(" ", col("prev"), col("cur")).as("token"))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      .stagedDisk // one row per (doc, distinct bigram): corpus-token-sized
    // r18 (guide §2.4 remove shuffles outright): both index states from
    // ONE aggregation pass each instead of two bm25PostingsFromTf builds
    // full-outer-joined per (token, doc). A doc's rows are the same in
    // both states (only membership differs), so dl_old ≡ dl on standing
    // docs; the old state's globals (D, Σdl) and per-token df are
    // CONDITIONAL aggregates of the same groupBys that compute the new
    // state's; and the old-vs-new posting diff becomes a per-row CASE
    // over one joined frame — the postings-sized full-outer shuffle (and
    // one dl + one df aggregation, each corpus-token-sized at 100 TB) is
    // deleted. All arithmetic stays the same ldiv/qlog2 integer exact
    // forms, so the classified set is bit-identical (oracle hash-PASS).
    val standing = pmod(col("doc_id"), lit(10L)) =!= 0
    val dl = tf.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("d_new"), sum(col("dl")).as("t_new"),
      count(when(standing, 1)).as("d_old"),
      sum(when(standing, col("dl"))).as("t_old"))
    // impact pruning per state from one token-keyed aggregation; a state
    // where the token is pruned (or absent: df_old = 0) gets a NULL idf
    val idf = tf.groupBy("token").agg(
        count(lit(1)).as("df_new"),
        count(when(standing, 1)).as("df_old"))
      .crossJoin(broadcast(stats))
      .filter(col("df_new") * 20 <= col("d_new") ||
        (col("df_old") > 0 && col("df_old") * 20 <= col("d_old")))
      .select(col("token"),
        when(col("df_new") * 20 <= col("d_new"),
          qlog2(col("d_new") + 1) - qlog2(col("df_new"))).as("idf_new"),
        when(col("df_old") > 0 && col("df_old") * 20 <= col("d_old"),
          qlog2(col("d_old") + 1) - qlog2(col("df_old"))).as("idf_old"))
    def termQ(idfQ: Column, dDocs: Column, tToks: Column): Column = {
      val r = ldiv(col("dl") * lit(Bm25S) * dDocs, tToks)
      val den = col("tf") * lit(Bm25S) +
        ldiv(lit(3L * Bm25S) + lit(9L) * r, lit(10L))
      when(idfQ.isNotNull,
        ldiv(idfQ * col("tf") * lit(22L * Bm25S / 10L), den))
    }
    val classified = tf
      .join(idf, "token") // inner: tokens pruned in BOTH states vanish,
                          // exactly as the old full-outer of two pruned
                          // posting sets never surfaced them
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("tq_new", termQ(col("idf_new"), col("d_new"), col("t_new")))
      .withColumn("tq_old",
        when(standing, termQ(col("idf_old"), col("d_old"), col("t_old"))))
      .filter(col("tq_new").isNotNull || col("tq_old").isNotNull)
      .select(
        when(col("tq_new").isNull, lit("retired"))
          .when(col("tq_old").isNull, lit("new"))
          .when(col("tq_old") === col("tq_new"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"),
        abs(coalesce(col("tq_new"), lit(0L))
          - coalesce(col("tq_old"), lit(0L))).as("adq"),
        (col("tq_old").isNotNull && col("tq_new").isNotNull).as("both"))
    val census = classified.groupBy("status").agg(
      count(lit(1)).as("n_postings"),
      max(when(col("both"), col("adq"))).cast(DoubleType).as("max_abs_dq"))
    Seq("retired", "new", "changed", "unchanged").toDF("status")
      .join(census, Seq("status"), "left_outer")
      .select(col("status"),
        coalesce(col("n_postings"), lit(0L)).as("n_postings"),
        col("max_abs_dq"))
  }


  /** Quantized vector table shared by p42 (quantized ANN) and p47
    * (centroid build): per-dimension corpus min/max packed into two
    * broadcast arrays, then every vector mapped to int8 codes in one
    * pass. Checkpointed because consumers read it from multiple join
    * sides — at production scale this is the persisted quantized index. */
  /** The per-session quantized-index artifact — at production scale the
    * persisted int8 index every quantized-path consumer (p42, p47, the
    * k-means state behind p53/p94) reads instead of re-quantizing the
    * corpus; within a session the registry hands them one build. */
  private[graft] def quantizedVectors(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.cached(s, d, "quantized_vectors") {
      buildQuantizedVectors(s, d)
    }


  private[queries] def buildQuantizedVectors(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").as("v"))
    // per-dim extrema in ONE map-side pass via the native mergeable
    // vector-state aggregate (VecMinMaxAgg; spec-asserted equal to the
    // previous posexplode → groupBy(i) form, which shuffled corpus×dims
    // rows to key the per-dimension aggregation — partials here are two
    // dims-length arrays per task, nothing corpus-sized moves)
    val stats = e
      .agg(graft.functions.VecMinMaxAgg.vecMinMax(col("v")).as("s"))
      .select(col("s").getField("mns").as("mns"),
        col("s").getField("mxs").as("mxs"))
    def quant(x: Column, mn: Column, mx: Column): Column =
      when(mx === mn, lit(0L)).otherwise(
        least(lit(127L),
          floor((x.cast(DoubleType) - mn) * lit(255.0) / (mx - mn)) -
            lit(128L)))
    e.crossJoin(broadcast(stats))
      .withColumn("qv", transform(col("v"), (x, i) =>
        quant(x, element_at(col("mns"), i + 1),
          element_at(col("mxs"), i + 1)))
        // codes are int8 by construction; store them as 1-byte elements
        // so the persisted/staged index and every exchange that carries
        // it pay 1 byte per dimension, not 8 — the storage half of the
        // scalar-quantization claim, literal in the schema
        .cast(ArrayType(ByteType)))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
      .select(col("vec_id"), col("label"), col("v"), col("nrm"), col("qv"),
        col("mns"), col("mxs"))
      // distribute the persisted index by id BEFORE the cut: the raw
      // embeddings scan is only a couple of input splits (byte-sized
      // parallelism), and every consumer's compute-bound map stage —
      // the k-means assignment crossJoins above all — inherits the
      // staged frame's partitioning; at sf10 that put a 614M-distance
      // assignment on ONE task (Profile `stages`: 224–286 s stragglers
      // over 0.1 s stage medians) while 31 cores idled. Width explicit —
      // without a count AQE re-coalesces the exchange by BYTES (p42's
      // whole quantized scan ran 1-task at sf0.1, Profile `jobs`) and
      // the consumers' work is FLOPs, not bytes — and WORK-SCALED to
      // the heaviest consumer (the N×kmeansK assignment), so small
      // rungs pay only the tasks their FLOPs warrant (r18; the r17
      // flat defaultParallelism pin cost p42 ~0.3 s of scheduling at
      // sf0.1) while sf10's 614M-distance class still spans all cores.
      .repartition(workWidth(s, embCount(s, d) * kmeansK(s, d)),
        col("vec_id"))
      .staged
  }


  /** Int8 scalar quantization + quantized ANN with exact re-rank — the
    * memory-bandwidth scale path for similarity search: the corpus scan
    * reads 1-byte codes (4× less than float32), candidates are ranked by
    * the INTEGER quantized dot product (bit-exact across engines — no
    * float summation anywhere in the wide phase), and only the top-20
    * survivors per probe fetch their float vectors for the exact cosine
    * re-rank. Per-dimension min/max is one tiny two-level aggregation
    * (dims rows) packed into two broadcast arrays; the quantized corpus
    * is checkpointed because the probe and corpus sides both read it —
    * at production scale it is the persisted quantized index. */
  private[queries] def p42AnnQuantized: Q = (s, d) => {
    val q = quantizedVectors(s, d)
    val probes = q.filter(col("vec_id") < 5)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("qv").as("qpv"))
    // native codegen'd integer loop (VectorDotLong) — the wide phase of
    // the quantized scan must not pay interpreted-lambda dispatch. The
    // candidate rows carry ONLY ids + the integer score: the int8 codes
    // are the widest thing the scan-and-rank phases touch, so the 4×
    // bandwidth saving of quantization is real in the plan, not just in
    // the storage format.
    val qdot = vdotl(col("qpv"), col("qv"))
    val cands = q.select(col("vec_id"), col("qv"))
      .crossJoin(broadcast(probes.select(col("probe_id"), col("qpv"))))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), qdot.as("qsim"))
    // same provably-lossless two-phase top-k as p04, keyed on the
    // integer score; only the ≤20 survivors per probe then fetch their
    // float vectors (survivor side broadcast — it is k×probes rows)
    val local = Window
      .partitionBy(col("probe_id"), pmod(hash(col("vec_id")), lit(64)))
      .orderBy(col("qsim").desc, col("vec_id").asc)
    val global = Window.partitionBy("probe_id")
      .orderBy(col("qsim").desc, col("vec_id").asc)
    val rerank = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    val survivors = cands
      .withColumn("lrnk", row_number().over(local)).filter(col("lrnk") <= 20)
      .withColumn("qrnk", row_number().over(global)).filter(col("qrnk") <= 20)
      .select("probe_id", "vec_id", "qsim")
    q.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(survivors), "vec_id")
      .join(broadcast(probes.select(col("probe_id"), col("pv"),
        col("pnrm"))), "probe_id")
      .withColumn("sim",
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm")))
      .withColumn("rnk", row_number().over(rerank).cast(IntegerType))
      .filter(col("rnk") <= 5)
      .select("probe_id", "vec_id", "rnk", "sim", "qsim")
  }


  /** Per-label centroid build over the QUANTIZED codes — the codebook
    * training step the IVF path (p20/p33) consumes. Averaging raw floats
    * distributed-style is order-DEPENDENT (float partial sums differ by
    * merge order, so no two runs — or engines — agree bit-for-bit);
    * averaging the int8 codes is two exact integer aggregates per
    * (label, dim) cell, map-side combinable and identical on any
    * partitioning, the same reason the money pipeline sums decimals.
    * The dequantized float centroid is derived from the integer mean by
    * one fixed arithmetic chain per cell. One explode + one keyed agg —
    * linear, no pairwise work. */
  private[queries] def p47QuantizedCentroids: Q = (s, d) => {
    // per-label centroid sums through the native elementwise aggregate:
    // the label-keyed shuffle carries dims-length buffers, and the
    // per-dimension unpack explodes only |labels| result rows (was
    // corpus×dims rows into a (label, dim) aggregation)
    val qv = quantizedVectors(s, d)
    val stats = qv.select("mns", "mxs").limit(1)
    val centroidQ =
      col("s_").cast(DoubleType) / col("n").cast(DoubleType)
    qv.groupBy("label")
      .agg(graft.functions.VecSumAgg.vecSum(col("qv")).as("sc"))
      .crossJoin(broadcast(stats)) // 1-row global min/max arrays
      .select(col("label"), col("mns"), col("mxs"),
        posexplode(zip_with(col("sc").getField("sums"),
          col("sc").getField("counts"),
          (s_, n_) => struct(s_.as("s"), n_.as("n")))).as(Seq("i", "sn")))
      .select(col("label"), col("i"),
        col("sn").getField("n").as("n"),
        col("sn").getField("s").as("s_"),
        element_at(col("mns"), col("i") + 1).as("mn"),
        element_at(col("mxs"), col("i") + 1).as("mx"))
      .select(col("label"), col("i").as("dim"), col("n"),
        round(centroidQ, 6).as("centroid_q"),
        round(col("mn") + (centroidQ + lit(128.0)) *
          (col("mx") - col("mn")) / lit(255.0), 6).as("centroid"))
  }


  private[graft] val KmeansK = 8


  /** Corpus-scaled codebook sizing — the fix for the fixed-codebook
    * stress regime measured at a 10× corpus (p94 31.3× / p96 11.2× /
    * p110 15.1×, PLANS.md "Round-12 (cont.): corpus-scaled codebooks"):
    * with a FIXED cell count, cells grow linearly with the corpus and
    * every within-cell pairwise stage (p94's SemDeDup prune, p33's kNN
    * graph feeding p96) pays
    * Σ|cell|² ∝ N²/K — quadratic. Deriving K from the corpus size with
    * a constant per-cell target keeps |cell| ≈ target, so Σ|cell|² ≈
    * N·target stays LINEAR — the scaling contract those ops' scaladocs
    * already promise ("finer codebooks shrink cells as the corpus
    * grows"). K must be identical in both engines for the bit-exact
    * oracles, so it is a pure function of row count — ceil(N/target)
    * floored at the historical constant — and the DuckDB twins compute
    * it with the same ceil-division over the same relation. At the
    * sf0.01 gate corpus (500 vectors) both floors hold, so gate
    * outputs are unchanged. The count is one metadata-cheap job at
    * plan-build time (at production scale, table row count is catalog
    * metadata). Broadcast posture: the codebook is N/target rows of
    * dims codes — ~1.5% of corpus bytes at target 64 — which
    * broadcasts comfortably through ~10⁸ vectors; beyond that a
    * production build shards the codebook and assigns through a
    * two-level (coarse-then-fine) join, the standard IVF hierarchy,
    * without changing any consumer: they read (vec_id, cell). */
  private[graft] val KmeansCellTarget = 64L
  private[graft] val IvfKFloor = 16L
  private[graft] val IvfCellTarget = 32L

  /** Per-salt-shard member target for the cell SELF-joins (p33's kNN
    * graph, p94's SemDeDup prune): a shard pairs ≤ this many left
    * members against the full cell, so per-task pair work is bounded
    * by ~SemSaltTarget·|cell| regardless of how unbalanced the
    * clustering leaves the cells; cells at the codebook target get
    * nsalt = 1 (zero overhead on the balanced path). */
  private[queries] val SemSaltTarget = 1024L

  /** The salting itself, shared by both cell self-joins: split `left`
    * into ceil(|cell|/[[SemSaltTarget]]) shards by `idCol` hash,
    * replicate `right` once per shard — every same-cell pair meets
    * exactly once (at the left member's shard) and the replication
    * cost Σ|cell|·ceil(|cell|/T) ≈ pairwork/T stays proportional to
    * the quadratic work it distributes. The output-side-skew remedy
    * AQE cannot provide (it sizes partitions by input bytes; the
    * blow-up here is the join OUTPUT). */
  private[queries] def saltedCellSelfJoin(left: DataFrame,
      right: DataFrame, idCol: String): DataFrame = {
    val sizes = left.groupBy("cell").agg(
      ldiv(count(lit(1)) + (SemSaltTarget - 1L), lit(SemSaltTarget))
        .as("nsalt")) // K rows — broadcast dim
    left.join(broadcast(sizes), Seq("cell"))
      .withColumn("salt",
        pmod(hash(col(idCol)).cast(LongType), col("nsalt")))
      .drop("nsalt")
      .join(right
        .join(broadcast(sizes), Seq("cell"))
        .withColumn("salt",
          explode(sequence(lit(0L), col("nsalt") - 1L)))
        .drop("nsalt"),
        Seq("cell", "salt"))
  }

  /** Embedding-corpus row count for dataset `d` (cached via
    * [[cachedRowCount]]). */
  private[graft] def embCount(s: SparkSession, d: String): Long =
    cachedRowCount(s, d, "embeddings")(Tables.embeddings(s, d).count())

  /** Per-task work target for [[workWidth]], in vector-pair distance
    * evaluations (one 64-dim dot/L2 each). Sized from the measured cost
    * of the class: the sf10 Profile `stages` 614M-distance single-task
    * straggler ran 224–286 s ⇒ ~400 ns per distance, so one task holds
    * ~0.2 s of compute — far above per-task scheduling cost, far below
    * straggler territory. */
  private[graft] val WorkOpsPerTask = 1L << 19

  /** Width for a compute-bound exchange, scaled to the FLOPs it feeds.
    * The r17 fix pinned these exchanges at a flat `defaultParallelism`
    * because a keyed repartition without a count is AQE-coalescible and
    * AQE sizes by BYTES — pair/vector frames are tiny in bytes but
    * FLOPs-heavy, so AQE folded them to ONE task at small rungs. The
    * flat width over-corrected: at sf0.1's trivial per-task work the
    * 32-way scheduling cost ~0.3 s on p42 (driver PERF_r17). `ops` is
    * known at plan time (rows × cells from the cached corpus count), so
    * the width can follow the work: ceil(ops / [[WorkOpsPerTask]]),
    * capped at the session parallelism — still never 1 task where the
    * work is real, still `defaultParallelism` (the cluster's cores, not
    * a local[32] constant) as soon as ops warrant it. */
  private[graft] def workWidth(s: SparkSession, ops: Long): Int =
    math.max(1L, math.min(s.sparkContext.defaultParallelism.toLong,
      (ops + WorkOpsPerTask - 1) / WorkOpsPerTask)).toInt

  /** k-means codebook size for dataset `d`: max(8, ceil(N/64)). */
  private[graft] def kmeansK(s: SparkSession, d: String): Long =
    corpusCells(embCount(s, d), KmeansK.toLong, KmeansCellTarget)

  /** IVF coarse-quantizer size for dataset `d`: max(16, ceil(N/32)). */
  private[graft] def ivfK(s: SparkSession, d: String): Long =
    corpusCells(embCount(s, d), IvfKFloor, IvfCellTarget)


  /** Two Lloyd iterations of k-means over the int8-quantized embedding
    * codes — the clustering step of cluster-based curation (SemDeDup
    * family: cluster first, then dedup/prune within cells). Everything
    * is INTEGER-exact on both engines, which a float k-means can never
    * be: distances are integer squared-L2 on the codes (expanded to
    * three native `vector_dot_long` calls), argmin ties break to the
    * smallest cell id via a min-join (no engine-specific arg_min
    * semantics), and the centroid update is an element-wise integer
    * floor-mean (sum − pmod(sum, n)) div n. Per iteration: one
    * broadcast of K tiny centroids × one corpus scan, one keyed argmin
    * agg, one cell-keyed native vec_sum agg (dims-length buffers, not
    * corpus×dims exploded rows) — linear in N×K×dims, the textbook
    * distributed-Lloyd shape; iterations are a driver-side loop over
    * DataFrames, state never leaves the cluster. With the
    * corpus-scaled K, the broadcast side grows with the corpus like
    * the IVF codebook's — and the same [[p125AnnIvf2]] coarse-anchor
    * hierarchy is the beyond-broadcast escape here too (hierarchical
    * k-means assigns through √K anchors); for the exact-Lloyd
    * semantics the gate pins, that switch changes results, so it is a
    * documented deployment path, not a silent substitution. */
  /** The p53 k-means state, shared with p94's SemDeDup prune step: the
    * quantized code table `qq` (vec_id, qv — a narrow projection of the
    * checkpointed quantized-index artifact, so repeated reads re-scan
    * blocks, never recompute) and the final (vec_id, d2, cell)
    * assignment after two Lloyd iterations — itself a session artifact,
    * since both p53's census and p94's prune consume it. */
  private[queries] def kmeansAssign(qq: DataFrame, cents: DataFrame): DataFrame = {
    def sqdist(a: Column, b: Column): Column =
      vdotl(a, a) - lit(2L) * vdotl(a, b) + vdotl(b, b)
    val scored = qq.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        sqdist(col("qv"), col("cv")).as("d2"))
    val best = scored.groupBy("vec_id").agg(min(col("d2")).as("d2"))
    scored.join(best, Seq("vec_id", "d2"))
      .groupBy("vec_id", "d2").agg(min(col("cell")).as("cell"))
  }


  private[queries] def kmeansUpdate(qq: DataFrame, assigned: DataFrame): DataFrame =
    // centroid update through the native elementwise-sum aggregate: one
    // cell-keyed shuffle of dims-length buffers (was corpus×dims rows
    // through a (cell, dim) aggregation plus a re-pack sort); the
    // floor-divided mean stays exact — (sx − pmod) is exactly divisible
    // and everything sits far below 2^53, so the double division is
    // IEEE-exact and the cast back lossless
    assigned.join(qq, "vec_id")
      .groupBy("cell")
      .agg(graft.functions.VecSumAgg.vecSum(col("qv")).as("sc"))
      .select(col("cell"), zip_with(
        col("sc").getField("sums"), col("sc").getField("counts"),
        (sx, n) => ((sx - pmod(sx, n)) / n).cast(LongType)).as("cv"))


  /** The trained codebook (cell → centroid codes) behind p53/p94/p100 —
    * exposed as its own artifact because the STREAMING cell-census twin
    * ([[graft.streaming.Streams.cellCensus]]) assigns arriving vectors
    * against exactly this table; at production scale it is the persisted
    * model file of the cell build. */
  private[graft] def kmeansCentroids(s: SparkSession, d: String): DataFrame = {
    val qq = quantizedVectors(s, d).select(col("vec_id"), col("qv"))
    graft.Artifacts.cached(s, d, "kmeans_centroids") {
      val c0 = qq.filter(col("vec_id") < kmeansK(s, d))
        .select(col("vec_id").as("cell"), col("qv").as("cv"))
      kmeansUpdate(qq, kmeansAssign(qq, c0))
    }
  }


  private[queries] def kmeansState(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val qq = quantizedVectors(s, d).select(col("vec_id"), col("qv"))
    val a2 = graft.Artifacts.cached(s, d, "kmeans_assign") {
      kmeansAssign(qq, kmeansCentroids(s, d)).staged
    }
    (qq, a2)
  }


  private[queries] def p53KmeansCells: Q = (s, d) => {
    val (_, a2) = kmeansState(s, d)
    a2.groupBy("cell")
      .agg(count(lit(1)).as("n_members"), sum(col("d2")).as("sum_sqdist"))
  }


  private[queries] val RecallK = 3


  /** ANN index-quality evaluation — recall@k of BOTH approximate
    * indexes (p05's sign-bucket LSH and p20's IVF cells) against the
    * exact brute-force top-k (p04's baseline) on the identical 20-probe
    * task: the monitoring job a production vector index runs
    * continuously, because approximate indexes degrade SILENTLY as the
    * corpus drifts and the only ground truth is the exact scan — and the
    * side-by-side is how an index variant gets chosen or retired — it
    * retired the first-8-dims bit-sampling bucket (≈0.03 recall@3) in
    * favor of [[signBucket]]'s Charikar hyperplanes. Exact
    * side: one broadcast nested-loop corpus scan with the salted
    * two-phase top-k (no reducer ever holds more than k×salts rows per
    * probe). Approx sides: the same candidate joins p05/p20 run. Hits
    * are inner matches of the (probe, neighbor) rank sets — integer
    * counts, so per-probe recall is exact in both engines. The
    * corpus-sized work is the one exact scan, and its cost is amortized
    * exactly as in production: the eval runs on a probe SAMPLE (20
    * here), never per query.
    *
    * ADJUDICATION (round 15, closing VERDICT r14 item 8): the monitor
    * has done its job — on this corpus the sign-bucket probe-search
    * variants lose to IVF at every measured budget (0.167 single-bucket
    * / 0.55 Hamming≤1 multi-probe vs 0.833, PLANS.md round 11), and the
    * SERVING surface reflects that: everything that serves ANN results
    * (p135's hybrid, the streaming hybrid's scale branch, p33's graph)
    * reads the IVF index; no serving op consumes the sign buckets.
    * p05/p104 are KEPT deliberately, as (a) the measured baselines this
    * monitor compares against — a recall number with no alternative
    * beside it cannot justify an index choice — and (b) the
    * data-INdependent family a drifted or adversarial corpus falls back
    * to (IVF's advantage is exactly its data dependence, which is also
    * its failure mode under drift; p100 watches that). The PAIRWISE
    * sign-bucket path (p13/p49, corpus-scaled [[annPairBits]]) is
    * unaffected: there LSH is the scale-correct choice and IVF the
    * wrong shape. */
  private[queries] def p72AnnRecall: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
      .withColumn("bucket", signBucket(col("v"), AnnBits))
    val probes = e.select(col("vec_id").as("probe_id"), col("v").as("pv"),
      col("nrm").as("pnrm"), col("bucket")).filter(col("probe_id") < 20)
    def sim = cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm"))
    def topk(cands: DataFrame): DataFrame = {
      val local = Window
        .partitionBy(col("probe_id"), pmod(hash(col("vec_id")), lit(64)))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val global = Window.partitionBy("probe_id")
        .orderBy(col("sim").desc, col("vec_id").asc)
      cands.withColumn("lrnk", row_number().over(local))
        .filter(col("lrnk") <= RecallK)
        .withColumn("rnk", row_number().over(global))
        .filter(col("rnk") <= RecallK)
        .select("probe_id", "vec_id")
    }
    val exact = topk(e.drop("bucket")
      .crossJoin(broadcast(probes.drop("bucket")))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), sim.as("sim")))
    val approxLsh = topk(e.join(probes, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), sim.as("sim")))
    // the p104 variant under the same monitor: probe-side ×9 fan-out,
    // corpus side unchanged — the recall number that justifies (or
    // retires) the extra probes rides in the same report
    val probeKeys = probes.select(col("probe_id"), col("pv"), col("pnrm"),
      explode(array(col("bucket") +:
        (1 to AnnBits).map(i => flipBit(col("bucket"), i)): _*)).as("bucket"))
    val approxMp = topk(e.join(probeKeys, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), sim.as("sim")))
    val assigned = ivfAssigned(s, d)
    val iprobes = assigned.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("v").as("pv"),
        col("nrm").as("pnrm"), col("cell"))
    val approxIvf = topk(assigned.join(iprobes, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"), sim.as("sim")))
    exact
      .join(approxLsh.withColumn("hit_lsh", lit(1)),
        Seq("probe_id", "vec_id"), "left_outer")
      .join(approxMp.withColumn("hit_mp", lit(1)),
        Seq("probe_id", "vec_id"), "left_outer")
      .join(approxIvf.withColumn("hit_ivf", lit(1)),
        Seq("probe_id", "vec_id"), "left_outer")
      .groupBy("probe_id")
      .agg(
        sum(coalesce(col("hit_lsh"), lit(0))).cast(LongType).as("n_hits_lsh"),
        sum(coalesce(col("hit_mp"), lit(0))).cast(LongType).as("n_hits_mp"),
        sum(coalesce(col("hit_ivf"), lit(0))).cast(LongType).as("n_hits_ivf"))
      .select(col("probe_id"),
        col("n_hits_lsh"),
        round(col("n_hits_lsh").cast(DoubleType) / lit(RecallK.toDouble), 6)
          .as("recall_lsh"),
        col("n_hits_mp"),
        round(col("n_hits_mp").cast(DoubleType) / lit(RecallK.toDouble), 6)
          .as("recall_mp"),
        col("n_hits_ivf"),
        round(col("n_hits_ivf").cast(DoubleType) / lit(RecallK.toDouble), 6)
          .as("recall_ivf"))
  }


  /** Embedding-quality eval by kNN label agreement — the training-free
    * health check an embedding table gets before anything trusts it
    * (and the monitoring probe that catches a bad re-embedding run):
    * each vector's 3 nearest neighbors (p33's IVF-bucketed exact-cosine
    * graph) vote with their labels, the majority label (count DESC,
    * label ASC on ties) is compared to the vector's own label, and the
    * per-label census reports coverage and accuracy. A label whose
    * accuracy dips marks a region where the embedding space no longer
    * separates the classes — the drift signal for re-training. Votes,
    * argmax, and censuses are exact integers (accuracy is one IEEE
    * division at output); vectors alone in their IVF cell have no
    * neighbors and are reported as unvoted coverage loss, not dropped.
    * Cost beyond the graph build: one vec-keyed count, a per-vec argmax
    * through the native top-k rewrite, and a label join that broadcasts
    * at any corpus size (labels ride with vec ids, never vectors). */
  private[queries] def p96KnnLabelEval: Q = (s, d) => {
    val labels = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
    val votes = p33KnnGraph(s, d)
      .join(labels.select(col("vec_id").as("nbr_id"),
        col("label").as("nbr_label")), "nbr_id")
      .groupBy("vec_id", "nbr_label").agg(count(lit(1)).as("cnt"))
    val pred = votes
      .withColumn("rn", row_number().over(Window.partitionBy("vec_id")
        .orderBy(col("cnt").desc, col("nbr_label").asc)))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("nbr_label").as("pred_label"))
    labels.join(pred, Seq("vec_id"), "left")
      .groupBy("label").agg(
        count(lit(1)).as("n_vecs"),
        count(col("pred_label")).as("n_voted"),
        sum(when(col("pred_label") === col("label"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("label"), col("n_vecs"), col("n_voted"), col("n_correct"),
        when(col("n_voted") > 0,
          round(col("n_correct").cast(DoubleType) / col("n_voted"), 6))
          .as("accuracy"))
  }


  /** Multi-probe sign-bucket ANN over [[signBucket]]'s Charikar
    * hyperplanes — recall insurance for the single-bucket path (p72
    * measures the lift): each probe searches its own sign bucket PLUS the
    * [[AnnBits]] buckets at Hamming distance 1 (Lv et al. 2007's
    * multi-probe LSH — spend probes instead of building more tables), so
    * a near neighbor that disagrees on one sign bit is no longer
    * invisible. Only the PROBE side fans out (×(bits+1) keys on the small
    * probe set); every corpus vector still carries exactly one bucket and
    * the join stays keyed — per-probe work is (bits+1)·corpus/2^bits
    * candidates, and because
    * buckets partition the corpus the probe keys are distinct and no
    * candidate dedup stage is needed. Recall is monotonically ≥ the
    * single-bucket path by construction (a candidate that displaces a
    * true top-k hit must itself be a true top-k hit under the same
    * global sim order); Round10cOpsSpec asserts that dominance per
    * probe, and p72 now monitors all three index variants. */
  private[queries] def p104AnnMultiprobe: Q = (s, d) => {
    val e = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(vdot(col("v"), col("v"))))
      .withColumn("bucket", signBucket(col("v"), AnnBits))
    val probes = e.select(col("vec_id").as("probe_id"), col("v").as("pv"),
      col("nrm").as("pnrm"), col("bucket")).filter(col("probe_id") < 20)
    val probeKeys = probes.select(col("probe_id"), col("pv"), col("pnrm"),
      explode(array(col("bucket") +:
        (1 to AnnBits).map(i => flipBit(col("bucket"), i)): _*)).as("bucket"))
    val sims = e.join(probeKeys, Seq("bucket"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        cos6(vdot(col("pv"), col("v")), col("pnrm") * col("nrm"))
          .as("sim"))
    val w = Window.partitionBy("probe_id")
      .orderBy(col("sim").desc, col("vec_id").asc)
    sims.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("probe_id", "vec_id", "rnk", "sim")
  }


  /** The `width`-char sign-bucket string with bit `i` (1-based)
    * flipped — shared by p104's probe fan-out, p72's multi-probe
    * monitor, and p13's pairwise multi-probe (which passes its
    * corpus-scaled width). */
  private[queries] def flipBit(b: Column, i: Int,
      width: Int = AnnBits): Column = concat(
    substring(b, 1, i - 1),
    when(substring(b, i, 1) === "1", lit("0")).otherwise(lit("1")),
    substring(b, i + 1, width - i))


  /** Embedding-space snapshot drift — the monitor that explains WHY ANN
    * recall decays (p72/p93 measure THAT it decays): the population
    * share of each k-means codebook cell is compared between two corpus
    * snapshots with the same PSI-in-bits rule as p81 (0.5-per-cell
    * Laplace smoothing makes p and q exact integer ratios, each term a
    * qlog2 delta of integer products, the total a cell-SORTED fold —
    * bit-identical across engines). A codebook trained on snapshot A
    * silently mis-buckets snapshot B's vectors as the distribution
    * moves; this is the standing alarm that triggers recentering.
    * Snapshots are the p63 hash-slice stand-ins (vec_id mod 7 / mod 5);
    * in production they are two corpus versions. Cost: the cell
    * assignment is the shared kmeans artifact — this op adds two
    * filtered per-cell counts and K-row arithmetic, nothing
    * corpus-sized beyond the (already-paid) assignment scan. */
  private[queries] def p100EmbeddingDrift: Q =
    opArtifact("op_p100_embedding_drift")(p100EmbeddingDriftBuild)

  private def p100EmbeddingDriftBuild: Q = (s, d) => {
    val (_, a2) = kmeansState(s, d)
    val cells = a2.select(col("vec_id"), col("cell"))
    val counts = cells.groupBy("cell").agg(
      count(when(pmod(col("vec_id"), lit(7L)) =!= 0, 1)).as("n_prev"),
      count(when(pmod(col("vec_id"), lit(5L)) =!= 0, 1)).as("n_next"))
    val k = kmeansK(s, d)
    val grid = s.range(0, k).toDF("cell")
    val f = grid.join(counts, Seq("cell"), "left_outer")
      .select(col("cell"),
        coalesce(col("n_prev"), lit(0L)).as("n_prev"),
        coalesce(col("n_next"), lit(0L)).as("n_next"))
      .staged // read twice: per-cell terms + the snapshot totals
    val tot = f.agg(sum("n_prev").as("tp"), sum("n_next").as("tn"))
    val B = k
    val pn = lit(2L) * col("n_next") + lit(1L)
    val pd = lit(2L) * col("tn") + lit(B)
    val qn = lit(2L) * col("n_prev") + lit(1L)
    val qd = lit(2L) * col("tp") + lit(B)
    val dq = (qlog2(pn * qd) - qlog2(qn * pd)).cast(DoubleType)
    val term = (pn.cast(DoubleType) / pd.cast(DoubleType)
      - qn.cast(DoubleType) / qd.cast(DoubleType)) * dq / lit(65536.0)
    val terms = f.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_prev"), col("n_next"), term.as("term"))
    val psi = terms.groupBy()
      .agg(aggregate(
        array_sort(collect_list(struct(col("cell"), col("term")))),
        lit(0.0), (acc, x) => acc + x.getField("term")).as("psi"))
    terms.crossJoin(broadcast(psi)) // 1-row scalar side
      .select(col("cell"), col("n_prev"), col("n_next"),
        round(col("term"), 6).as("term"), round(col("psi"), 6).as("psi"))
  }
}
