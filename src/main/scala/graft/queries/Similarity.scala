package graft.queries

import org.apache.spark.sql.functions._
import graft.Scratch
import graft.functions.XSql
import graft.functions.XSql.{Dialect, Spark => SqlSpark, Duck => SqlDuck}

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  * Three tiers, mirroring how a 100 TB ANN pipeline is actually built:
  *   - k1: brute-force cosine top-k — the correctness baseline and the
  *         "live query" path (broadcast the query vector, one scan,
  *         TakeOrderedAndProject; no shuffle of the big side).
  *   - k2: random-hyperplane LSH — bucket assignment is a narrow map;
  *         search touches only the query's bucket. The bucket id is an
  *         equi-join key, so candidate retrieval is partition-prunable
  *         at scale (bucket as partition column).
  *   - k3: IVF — coarse quantize by Lloyd-TRAINED centroid (the k9
  *         trainer via [[graft.operators.KMeans]], PRODUCTION sum/count
  *         means; the oracle retrains with its sorted-fold mean and the
  *         two agree on every ASSIGNMENT — KMeansSpec — which is all
  *         the gated projections consume), probe the nearest list only
  *         (k7: the two nearest). Index-build → index-query, closed loop.
  *
  * Hyperplane weights are pseudo-random integers from a fixed affine
  * generator — deterministic, embedded identically in both engines.
  */
object Similarity {

  private val Planes = XSql.LshPlanes
  private val Dims = 64

  /** Lloyd rounds for every production trained tier (and its oracle
    * twin) — fixed, so the driver loop never inspects data.
    */
  private[queries] val LloydRounds = 3

  /** PQ tier geometry (k10/k11): `PqSub` subspaces of `PqSubDims`
    * dims, `PqCodes` codebook entries each, and a `PqRerank`-candidate
    * exact-rerank window. These are the recall levers every production
    * PQ index exposes (FAISS m/nbits/k_factor): more subspaces and
    * codes = finer quantization = better ADC ranking, paid at train
    * time; a wider rerank window = recall bought with a bounded extra
    * exact-distance pass, paid per query. k12 keeps its own coarser
    * residual-PQ geometry (4 × 16) — its candidates are already
    * list-bounded by the IVF stage.
    */
  private val PqCodes = 8
  private val PqSub = 8
  private val PqSubDims = Dims / PqSub
  private val PqRerank = 50

  /** w(p, d) in [-1, 1]: ((A2[p]*(d+1) + B2[p]) mod 2001 - 1000) / 1000. */
  private def planeW(p: String, i: String)(implicit d: Dialect): String = {
    val a = d.idx(d.bigintArr(XSql.A2), p)
    val b = d.idx(d.bigintArr(XSql.B2), p)
    s"cast((($a * (($i) + 1) + $b) % ${XSql.PlaneMod}) - 1000 as double) / 1000.0"
  }

  /** Expected per-bucket occupancy target for the occupancy-capped
    * width (c12): planes are the smallest np >= [[Planes]] with
    * TargetOcc · 2^np >= corpus size, so candidate generation stays
    * linear as corpus and probe set co-scale.
    */
  private[queries] val TargetOcc = 8L

  /** Smallest np >= [[Planes]] with [[TargetOcc]]·2^np >= n — the
    * integer form of ceil(log2(n / TargetOcc)), computed without
    * floating log so both engines agree bit-exactly at power-of-two
    * boundaries.
    */
  private[queries] def occupancyCappedPlanes(n: Long): Int = {
    // cap at 55: 2^55·TargetOcc is already ~2.8e17 rows AND keeps the
    // shift·TargetOcc product inside int64 in both engines' search
    var np = 1
    while (np < 55 && (1L << np) * TargetOcc < n) np += 1
    math.max(Planes, np)
  }

  /** [[planeW]] with coefficients from the GENERATING formula instead
    * of the fixed-size A2/B2 constant arrays — any plane index works,
    * which is what lets the occupancy-capped width exceed
    * [[XSql.LshPlanes]]. Identical values for p < LshPlanes.
    */
  private def planeWDyn(p: String, i: String)(implicit d: Dialect): String = {
    val a = s"((1103515245 * (($p) + 7) + 12345) % 1000003)"
    val b = s"((69069 * (($p) + 13) + 3571) % 1000003)"
    s"cast((($a * (($i) + 1) + $b) % ${XSql.PlaneMod}) - 1000 as double) / 1000.0"
  }

  /** [[lshBucket]] at a caller-supplied plane count `np` (an SQL
    * expression — a literal on the Spark side, a scalar subquery in
    * the oracle). Spark runs the native codegen'd
    * `graft_lsh_bucket_n`; the oracle folds the equivalent lambda
    * with formula coefficients.
    */
  private def lshBucketDyn(v: String, np: String)(implicit d: Dialect): String =
    d match {
      case SqlSpark => s"graft_lsh_bucket_n($v, int($np))"
      case SqlDuck =>
        val dotP = d.foldD(d.seq0(Dims.toString), "acc_", "i_",
          s"acc_ + ${d.idx(s"($v)", "i_")} * ${planeWDyn("p_", "i_")}")
        val bits = d.xform(d.seq0(np), "p_",
          s"CASE WHEN ($dotP) > 0 THEN ${d.shiftLeft1("p_")} ELSE ${zero(d)} END")
        d.foldL(bits, 0L, "a2_", "x2_", "a2_ + x2_")
    }

  /** LSH bucket id of a double-vector expression: sign bits of the dot
    * products against the fixed hyperplanes, packed into a BIGINT.
    * Spark runs the native [[graft.functions.LshBucket]] loop; the
    * oracle composes the equivalent lambda fold.
    */
  private def lshBucket(v: String)(implicit d: Dialect): String = d match {
    case SqlSpark => s"graft_lsh_bucket($v)"
    case SqlDuck =>
      val dotP = d.foldD(d.seq0(Dims.toString), "acc_", "i_",
        s"acc_ + ${d.idx(s"($v)", "i_")} * ${planeW("p_", "i_")}")
      val bits = d.xform(d.seq0(Planes.toString), "p_",
        s"CASE WHEN ($dotP) > 0 THEN ${d.shiftLeft1("p_")} ELSE ${zero(d)} END")
      d.foldL(bits, 0L, "a2_", "x2_", "a2_ + x2_")
  }

  private def zero(d: Dialect): String =
    if (d == SqlSpark) "bigint(0)" else "cast(0 as bigint)"

  private def vDouble(d: Dialect): String = d.toDoubleArr("embedding")

  /** DuckDB CTE chain for the k9 trainer GATE only: min-id init + ONE
    * sorted-fold mean update — the oracle twin of the exact chain k9's
    * Spark side runs (`init`/`assign`/`meanUpdateSorted`), whose point
    * is bit-parity of the means themselves. Assumes a CTE
    * `e(vec_id, v)` is in scope; emits c0, a1, c1, a2.
    */
  private def lloydMinId1Ctes(k: Int, p: String = "", dims: Int = Dims,
      src: String = "e"): String = {
    implicit val dl: Dialect = SqlDuck
    def dist2(v: String, c: String) = XSql.dist2(v, c)
    s"""${p}c0 AS (SELECT vec_id AS cid, v AS cv FROM $src ORDER BY vec_id LIMIT $k),
       |${p}r1 AS (SELECT e.vec_id, c0.cid, ${dist2("e.v", "c0.cv")} AS d2
       |           FROM $src e, ${p}c0 c0),
       |${p}a1 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM ${p}r1) WHERE rn = 1),
       |${p}flat AS (SELECT a1.cid, i, e.v[i + 1] AS val
       |         FROM $src e JOIN ${p}a1 a1 ON e.vec_id = a1.vec_id,
       |              (SELECT unnest(range(0, $dims)) AS i)),
       |${p}dimavg AS (SELECT cid, i,
       |    ${SqlDuck.foldD(SqlDuck.arrSort("list(val)"), "a_", "x_", "a_ + x_")}
       |      / cast(count(*) as double) AS m
       |  FROM ${p}flat GROUP BY cid, i),
       |${p}c1 AS (SELECT cid,
       |    list_transform(list_sort(list({'i': i, 'm': m})), s_ -> s_.m) AS cv
       |  FROM ${p}dimavg GROUP BY cid),
       |${p}r2 AS (SELECT e.vec_id, c1.cid, ${dist2("e.v", "c1.cv")} AS d2
       |           FROM $src e, ${p}c1 c1),
       |${p}a2 AS (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM ${p}r2) WHERE rn = 1)""".stripMargin
  }

  /** DuckDB CTE chain for the index-build trainer the IVF/PQ consumers
    * (k3/k7/k10/k11/k12, d11) mirror: deterministic farthest-point
    * seeding (batched argmax-min-dist passes — KMeans.initFarthest's
    * twin) followed by `rounds` Lloyd updates with sorted-fold means —
    * bit-identical to `KMeans.trainLocal`, the engine's bounded-sample
    * driver-side trainer (KMeansSpec pins local == distributed gate
    * trainer == this chain). Assumes a CTE `src(vec_id, v)` is in
    * scope; emits `${p}c1` (the final centroids) and `${p}a2` (the
    * assignment under them) — the same consumer-facing names the
    * 1-round chain exposed.
    */
  private[queries] def lloydCtes(k: Int, p: String = "", dims: Int = Dims,
      src: String = "e", rounds: Int = LloydRounds, rowsPerVec: Int = 1,
      cap: Long = graft.operators.KMeans.MaxTrainRows.toLong): String = {
    implicit val dl: Dialect = SqlDuck
    def dist2(v: String, c: String) = XSql.dist2(v, c)
    // TRAINING reads the same deterministic vec_id stride as the
    // Spark side's boundTraining (s = ceil(n*rowsPerVec/cap); the
    // identity below the cap, so every oracle'd scale is bit-exact) —
    // the final a2 assignment below stays over the FULL src, exactly
    // like KMeans.withAssign/assignMulti over the full corpus. Without
    // this mirror the two engines train different centroids past the
    // cap and the committed SQL silently stops being the twin.
    val trn = s"${p}tr"
    val trCte = s"""$trn AS MATERIALIZED (SELECT vec_id, v FROM $src
       |  WHERE vec_id % greatest(1,
       |    (SELECT (count(*) * $rowsPerVec + $cap - 1) // $cap FROM $src)) = 0),
       |""".stripMargin
    // every chained CTE is MATERIALIZED (DuckDB-only syntax, and this
    // SQL only ever runs in DuckDB): ch_j references ch_{j-1} twice,
    // so inlined CTEs would re-evaluate the init chain 2^passes times.
    // The init batches its picks on KMeans.initSchedule (the chosen
    // set doubles per pass) — the oracle twin of initFarthestMulti.
    val schedule = graft.operators.KMeans.initSchedule(k)
    val init = schedule.zipWithIndex.map { case (m, idx) =>
      val j = idx + 2
      s""",
         |${p}fp$j AS MATERIALIZED (SELECT vec_id FROM (
         |    SELECT s.vec_id, min(${dist2("s.v", "c.v")}) AS mind2
         |    FROM $trn s, ${p}ch${j - 1} c GROUP BY s.vec_id)
         |  ORDER BY mind2 DESC, vec_id LIMIT $m),
         |${p}ch$j AS MATERIALIZED (SELECT vec_id, v FROM ${p}ch${j - 1} UNION ALL
         |  SELECT s.vec_id, s.v FROM $trn s JOIN ${p}fp$j USING (vec_id))""".stripMargin
    }.mkString
    val loop = (1 to rounds).map { r =>
      val prevC = if (r == 1) s"${p}c0" else s"${p}cc${r - 1}"
      s""",
         |${p}ra$r AS (SELECT e.vec_id, c.cid, ${dist2("e.v", "c.cv")} AS d2
         |           FROM $trn e, $prevC c),
         |${p}aa$r AS MATERIALIZED (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
         |    FROM ${p}ra$r) WHERE rn = 1),
         |${p}fl$r AS (SELECT a.cid, i, e.v[i + 1] AS val
         |         FROM $trn e JOIN ${p}aa$r a ON e.vec_id = a.vec_id,
         |              (SELECT unnest(range(0, $dims)) AS i)),
         |${p}da$r AS (SELECT cid, i,
         |    ${SqlDuck.foldD(SqlDuck.arrSort("list(val)"), "a_", "x_", "a_ + x_")}
         |      / cast(count(*) as double) AS m
         |  FROM ${p}fl$r GROUP BY cid, i),
         |${p}cc$r AS MATERIALIZED (SELECT cid,
         |    list_transform(list_sort(list({'i': i, 'm': m})), s_ -> s_.m) AS cv
         |  FROM ${p}da$r GROUP BY cid)""".stripMargin
    }.mkString
    s"""$trCte${p}ch1 AS MATERIALIZED (SELECT vec_id, v FROM $trn ORDER BY vec_id LIMIT 1)$init,
       |${p}c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cv FROM ${p}ch${schedule.length + 1})$loop,
       |${p}c1 AS MATERIALIZED (SELECT cid, cv FROM ${p}cc$rounds),
       |${p}rf AS (SELECT e.vec_id, c.cid, ${dist2("e.v", "c.cv")} AS d2
       |           FROM $src e, ${p}c1 c),
       |${p}a2 AS MATERIALIZED (SELECT vec_id, cid FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
       |    FROM ${p}rf) WHERE rn = 1)""".stripMargin
  }

  /** Deterministic training-set bound — the FAISS index-build
    * contract KMeans.MaxTrainRows states: TRAINING is a
    * bounded-sample problem (the cap keeps the local Lloyd solve a
    * driver-side microsecond job at any corpus size), while
    * assignment/encoding always runs over the FULL corpus
    * distributed. The sample strides `vec_id % s = 0` so it is
    * stable across runs and engines; below the cap it is the
    * identity, so every oracle-gated scale trains on the full corpus
    * and the DuckDB twin stays bit-exact. Surfaced by the round-12
    * 100x spot audit: 200k vectors x 8 PQ subspaces tripped the cap.
    */
  private[queries] def boundTraining(vecs: org.apache.spark.sql.DataFrame,
      rowsPerVec: Int,
      cap: Long = graft.operators.KMeans.MaxTrainRows.toLong)
      : org.apache.spark.sql.DataFrame = {
    val n = vecs.count()
    val s = (n * rowsPerVec + cap - 1) / cap
    if (s <= 1L) vecs else vecs.filter(col("vec_id") % s === 0)
  }

  /** DuckDB CTE chain for the PQ tier (k11/k10): COSINE-compatible
    * product quantization — vectors are L2-normalized first (unit
    * vectors make L2 ordering identical to cosine ordering, which is
    * how production vector stores run cosine ANN through an L2
    * quantizer; zero-norm vectors have no direction and are excluded
    * from the index), then per-subspace codebooks are trained on the
    * normalized slices and the query's ADC distance tables built from
    * its normalized slices. Assumes a CTE `e(vec_id, v)` is in scope;
    * emits the normalized set `pqe`, per-subspace chains, and `dt$i`;
    * `codeJoins` sums the four table lookups per vector.
    */
  private def pqCtes(): (String, String, String) = {
    implicit val dl: Dialect = SqlDuck
    val sub = PqSubDims
    val norm = s"""pqn0 AS MATERIALIZED (SELECT vec_id, v, sqrt(n2) AS nrm
       |  FROM (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e) WHERE n2 > 0),
       |pqe AS MATERIALIZED (SELECT vec_id, ${SqlDuck.xform("v", "x_", "x_ / nrm")} AS v
       |  FROM pqn0),
       |pqq AS (SELECT v AS qv FROM pqe WHERE vec_id = 0)""".stripMargin
    val subCtes = (0 until PqSub).map { i =>
      s"""e$i AS (SELECT vec_id, ${SqlDuck.slice("v", s"${i * sub}", sub)} AS v FROM pqe),
         |${lloydCtes(PqCodes, s"p$i", sub, s"e$i", rowsPerVec = PqSub)},
         |dt$i AS (SELECT c.cid, ${XSql.dist2(
            SqlDuck.slice("q.qv", s"${i * sub}", sub), "c.cv")(SqlDuck)} AS dterm
         |         FROM p${i}c1 c, pqq q)""".stripMargin
    }.mkString(",\n")
    val codeJoins = (0 until PqSub).map { i =>
      s"JOIN p${i}a2 a$i ON e.vec_id = a$i.vec_id " +
        s"JOIN dt$i t$i ON a$i.cid = t$i.cid"
    }.mkString("\n|  ")
    val adcSum = (0 until PqSub).map(i => s"t$i.dterm").mkString(" + ")
    (norm + ",\n" + subCtes, codeJoins, adcSum)
  }

  /** Spark side of the PQ candidate stage (k11/k10): L2-normalize
    * (cosine-compatible quantization — see [[pqCtes]]; zero-norm
    * vectors are excluded), train 4 sub-codebooks on the normalized
    * slices, encode every vector, rank by the broadcast ADC distance
    * table built from the normalized query, return the top-`n`
    * (vec_id, ad2).
    */
  private def pqCandidates(e: org.apache.spark.sql.DataFrame,
      n: Int): org.apache.spark.sql.DataFrame = {
    implicit val dl: Dialect = SqlSpark
    import graft.operators.KMeans
    val sub = PqSubDims
    val en = e.withColumn("n2", expr(XSql.norm2("v")))
      .filter(col("n2") > 0)
      .withColumn("nrm", sqrt(col("n2")))
      .select(col("vec_id"),
        expr(SqlSpark.xform("v", "x_", "x_ / nrm")).as("v"))
    // all PqSub codebooks fit at the driver in ONE bounded collect
    // (trainLocalMulti — the FAISS index-build discipline: training
    // is an in-memory problem on a bounded sample; KMeansSpec proves
    // bit-equality with the distributed gate-parity trainer). The
    // corpus-scale work — ENCODING every vector — stays distributed:
    // assignMulti's per-row broadcast argmin over the scan.
    def slices(vcol: String) = posexplode(
      array((0 until PqSub).map(i =>
        expr(s"slice($vcol, ${i * sub + 1}, $sub)")): _*))
    val eAll = en.select(col("vec_id"), slices("v"))
      .withColumnsRenamed(Map("pos" -> "grp", "col" -> "v"))
    // train on the bounded deterministic sample; ENCODE the full corpus
    val eTrain = boundTraining(en, PqSub).select(col("vec_id"), slices("v"))
      .withColumnsRenamed(Map("pos" -> "grp", "col" -> "v"))
    val cents = KMeans.trainLocalMulti(eTrain, PqCodes, LloydRounds)
    val codes = KMeans.assignMulti(eAll, cents)
    val qAll = en.filter(col("vec_id") === 0)
      .select(slices("v"))
      .withColumnsRenamed(Map("pos" -> "grp", "col" -> "qv"))
    val dt = cents.join(broadcast(qAll), "grp")
      .select(col("grp"), col("cid"),
        expr(XSql.dist2("qv", "cv")).as("dterm"))
    // ad2 folds the per-subspace terms in grp order (sorted fold) —
    // bit-identical to the oracle's left-associated t0 + t1 + ... sum
    codes.join(broadcast(dt), Seq("grp", "cid"))
      .filter(col("vec_id") =!= 0)
      .groupBy("vec_id")
      .agg(expr("aggregate(array_sort(collect_list(struct(grp, dterm))), " +
        "cast(0 as double), (a_, s_) -> a_ + s_.dterm)").as("ad2"))
      .orderBy(col("ad2"), col("vec_id")).limit(n)
  }

  /** Spark side of the trained-IVF query (k3 single-probe, k7 two-
    * probe): fit coarse centroids on the bounded training set
    * ([[graft.operators.KMeans.trainLocal]] — bit-identical to the
    * oracle's CTE trainer), assign every vector to its centroid list
    * distributed, probe the `probes` nearest lists for the query,
    * exact-cosine rerank. This closes the index-build → index-query
    * loop the way a real vector store runs: at scale the list id
    * (cid) is a partition column, so the probe is `probes` partition
    * reads; the one assignment pass is the honest one-off build cost.
    */
  private def ivfTrained(s: org.apache.spark.sql.SparkSession, d: String,
      probes: Int): org.apache.spark.sql.DataFrame = {
    implicit val dl: Dialect = SqlSpark
    val e = t(s, d, "embeddings")
      .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
    val n = e.withColumn("n2", expr(XSql.norm2("v")))
    // coarse centroids fit at the driver on the bounded training set
    // (trainLocal — bit-identical to the gate-parity distributed
    // trainer per KMeansSpec, so the oracle's CTE chain reproduces
    // them exactly; boundTraining strides past the cap at audit
    // scale); list ASSIGNMENT below stays distributed
    val cents = graft.operators.KMeans.trainLocal(
      boundTraining(e, 1), 4, LloydRounds)
    val q = n.filter(col("vec_id") === 0)
      .select(col("v").as("qv"), col("n2").as("qn2"))
    val pick = cents.crossJoin(broadcast(q))
      .withColumn("d2", expr(XSql.dist2("qv", "cv")))
      .orderBy(col("d2"), col("cid"))
      .limit(probes)
      .select("cid")
    // list id computed IN PLACE on the scan (withAssign's per-row
    // argmin) — no (e ⋈ assignment) vec_id join; the probe is then
    // one broadcast equi-join on the picked list ids
    graft.operators.KMeans.withAssign(n, cents)
      .join(broadcast(pick), Seq("cid"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
          .as("dist"))
      .orderBy(col("dist"), col("vec_id"))
      .limit(10)
  }

  /** Once-per-(JVM, dataset) PUBLISHED IVF index — the serving
    * discipline the k10 cost anatomy promises: train coarse centroids
    * ONCE, assign every vector once, publish centroids + posting
    * lists (vector, norm, list id) as versioned TableStore tables,
    * and answer every subsequent query by READING them. The game-
    * neighbors precompute pattern (reference
    * definitions/game_neighbors.sqlx:16) applied to ANN: index built
    * once, queried forever. At 100 TB the lists table is partitioned
    * by `cid` so a probe is a partition read; the publish is the
    * one-off build cost every vector store pays.
    *
    * Determinism contract: [[graft.operators.KMeans.trainLocal]] is
    * bit-deterministic for a given corpus, so a query answered from
    * the published index equals one answered from a fresh build —
    * which is exactly what lets k20's DuckDB oracle (which has no
    * store) retrain the same centroids and agree.
    */
  private val publishedIvf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def publishedIvfIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    publishedIvf.computeIfAbsent(d, _ => {
      implicit val dl: Dialect = SqlSpark
      import graft.operators.{KMeans, TableStore}
      val root = Scratch.dir("ivf_published").toString
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val cents = KMeans.trainLocal(boundTraining(e, 1), 4, LloydRounds)
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      TableStore.publishVersion(s, s"$root/centroids", cents,
        note = "ivf-centroids")
      TableStore.publishVersion(s, s"$root/lists",
        KMeans.withAssign(n, cents), note = "ivf-lists")
      root
    })

  /** The published index's MAINTENANCE lifecycle (k22): centroids
    * trained on the BASE corpus only and frozen; the posting lists
    * live as a FOLD TABLE whose v0 snapshot is the base assignments
    * and whose absorb step publishes the new batch's assignments as
    * an O(batch) fold delta — the k16 frozen-centroid absorption
    * composed with the k20 publish-once/read-forever serving store.
    * At 100 TB: a daily embedding batch costs one assignment pass +
    * one delta write, never a list rewrite; readers fold
    * anchor ⊎ deltas exactly like every other fold table, and
    * compaction applies on the operator's schedule.
    */
  private val publishedIvfIncr =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def publishedIvfIndexIncremental(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    publishedIvfIncr.computeIfAbsent(d, _ => {
      implicit val dl: Dialect = SqlSpark
      import graft.operators.{KMeans, TableStore}
      val root = Scratch.dir("ivf_incr").toString
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val base = n.filter(col("vec_id") % 3 =!= 2)
      val batch = n.filter(col("vec_id") % 3 === 2)
      // train ONCE on the base corpus; the batch never touches training
      val cents = KMeans.trainLocal(
        boundTraining(base.select("vec_id", "v"), 1), 4, LloydRounds)
      TableStore.publishVersion(s, s"$root/centroids", cents,
        note = "ivf-centroids-frozen")
      TableStore.publishFoldSnapshot(s, s"$root/lists",
        KMeans.withAssign(base, cents), note = "build")
      // the absorb tick: assign ONLY the batch under the frozen
      // centroids and publish the rows as a fold delta — O(batch)
      TableStore.publishFoldDelta(s, s"$root/lists",
        KMeans.withAssign(batch, cents).withColumn("_mult", lit(1L)),
        note = "absorb:1")
      root
    })

  /** The COMPRESSION half of the published index (k24): PQ codebooks,
    * per-vector codes, and the rerank vector table published once per
    * dataset. A query then builds only its own 1-row distance table
    * and probes the STORED codes — the corpus is never re-encoded and
    * nothing retrains, which is the missing piece between k11 (PQ in
    * query) and k20 (published IVF): at 100 TB the codes table is
    * ~64× smaller than the vectors and the ADC scan touches only it,
    * with the full vectors read for the top-`PqRerank` rerank rows
    * alone.
    */
  private val publishedPq =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[graft] def publishedPqIndex(
      s: org.apache.spark.sql.SparkSession, d: String): String =
    publishedPq.computeIfAbsent(d, _ => {
      implicit val dl: Dialect = SqlSpark
      import graft.operators.{KMeans, TableStore}
      val sub = PqSubDims
      val root = Scratch.dir("pq_published").toString
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val en = n.filter(col("n2") > 0)
        .withColumn("nrm", sqrt(col("n2")))
        .select(col("vec_id"),
          expr(SqlSpark.xform("v", "x_", "x_ / nrm")).as("v"))
      def slicesOf(df: org.apache.spark.sql.DataFrame) =
        df.select(col("vec_id"), posexplode(
            array((0 until PqSub).map(i =>
              expr(s"slice(v, ${i * sub + 1}, $sub)")): _*)))
          .withColumnsRenamed(Map("pos" -> "grp", "col" -> "v"))
      val eAll = slicesOf(en)
      // train on the bounded deterministic sample (boundTraining —
      // the cap trips at ~131k vectors x 8 subspaces); ENCODE the
      // full corpus distributed
      val cents = KMeans.trainLocalMulti(
        slicesOf(boundTraining(en, PqSub)), PqCodes, LloydRounds)
      val codes = KMeans.assignMulti(eAll, cents)
      TableStore.publishVersion(s, s"$root/codebooks", cents,
        note = "pq-codebooks")
      TableStore.publishVersion(s, s"$root/codes", codes, note = "pq-codes")
      TableStore.publishVersion(s, s"$root/vectors", n, note = "rerank-vectors")
      root
    })

  val all: Seq[Q] = Seq(

    // ---------------------------------------------------------------
    Q("k1_knn_brute",
      "brute-force cosine top-10 for a query vector (broadcast 1-row)",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0)
           |SELECT vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n, q WHERE vec_id != 0
           |ORDER BY dist, vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val n = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .withColumn("n2", expr(XSql.norm2("v")))
        .select("vec_id", "v", "n2")
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // Same query as k1 but through the native `vector_distance`
    // Catalyst expression (codegen'd loop, no lambda interpreter) —
    // the scale implementation of F14 / ML.DISTANCE. The oracle is
    // shared with k1: both must produce bit-identical distances.
    Q("k4_knn_native_expr",
      "brute-force kNN via the codegen'd vector_distance expression",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0)
           |SELECT vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n, q WHERE vec_id != 0
           |ORDER BY dist, vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      graft.functions.GraftFunctions.register(s)
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .select("vec_id", "v")
      val q = e.filter(col("vec_id") === 0).select(col("v").as("qv"))
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          expr("vector_distance(v, qv, 'COSINE')").as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // Multi-probe: the query's own bucket plus every bucket at Hamming
    // distance 1 (flip each of the 8 sign bits). Single-probe recall
    // collapses when the query sits near a hyperplane; multi-probe is
    // the standard fix and keeps the scan bucket-bounded (9 of 256
    // buckets) — at scale, bucket is a partition column and this is 9
    // partition lookups instead of a full scan.
    Q("k2_ann_lsh",
      "hyperplane-LSH ANN: multi-probe query bucket + hamming-1 buckets, rerank exact",
      {
        implicit val dl: Dialect = SqlDuck
        val probeCond = (Seq("n.bucket = q.qb") ++
          (0 until Planes).map(p => s"n.bucket = xor(q.qb, ${1L << p})"))
          .mkString("(", " OR ", ")")
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2, ${lshBucket("v")} AS bucket FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2, bucket AS qb FROM n WHERE vec_id = 0)
           |SELECT vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n, q WHERE $probeCond AND vec_id != 0
           |ORDER BY dist, vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val n = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .withColumn("n2", expr(XSql.norm2("v")))
        .withColumn("bucket", expr(lshBucket("v")))
        .select("vec_id", "v", "n2", "bucket")
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"), col("bucket").as("qb"))
      // 9 probe rows broadcast; the candidate retrieval is an equi-join
      // on the bucket key (partition-prunable at scale)
      val probes = q.select(col("qv"), col("qn2"),
        explode(array(Seq(col("qb")) ++
          (0 until Planes).map(p => col("qb").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
      n.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // The game_neighbors analogue (§2.3 J5 + §2.5 W2 + §2.4 A6): the
    // precomputed tier of the two-tier similarity design, as an
    // ordered struct-array serving table.
    Q("k5_precomputed_neighbors",
      "precomputed top-3 in-label neighbors, (label, LSH-bucket)-bounded candidates, exact rerank",
      {
        implicit val dl: Dialect = SqlDuck
        // neighbor side probes its own bucket + the 8 hamming-1 flips;
        // a hamming<=1 pair matches exactly one probe row, so the
        // candidate join needs no DISTINCT (mirrors Neighbors.precompute)
        val probeList = (Seq("bucket") ++
          (0 until Planes).map(p => s"xor(bucket, ${1L << p})")).mkString("[", ", ", "]")
        s"""WITH e AS (SELECT vec_id, label, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, label, v, ${XSql.norm2("v")} AS n2,
           |             ${lshBucket("v")} AS bucket FROM e),
           |p AS (SELECT label, vec_id AS n_vec_id, v AS n_v, n2 AS n_n2,
           |             unnest($probeList) AS bucket FROM n),
           |pairs AS (
           |  SELECT a.vec_id AS vec_id, p.n_vec_id AS n_vec_id,
           |    1.0 - ${XSql.cosineFromNorms(XSql.dot("a.v", "p.n_v"), "a.n2", "p.n_n2")} AS dist
           |  FROM n a JOIN p ON a.label = p.label AND a.bucket = p.bucket
           |   AND a.vec_id != p.n_vec_id),
           |ranked AS (
           |  SELECT vec_id, n_vec_id, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, n_vec_id) AS rn
           |  FROM pairs QUALIFY rn <= 3)
           |SELECT vec_id, rn AS rnk, n_vec_id, dist
           |FROM ranked ORDER BY vec_id, rnk""".stripMargin
      }) { (s, d) =>
      val emb = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .select("vec_id", "label", "v")
      graft.serve.Neighbors.precompute(emb, 3)
        .select(col("vec_id"), posexplode(col("similar")))
        .select(col("vec_id"), (col("pos") + 1).cast("long").as("rnk"),
          col("col.vec_id").as("n_vec_id"), col("col.dist").as("dist"))
        .orderBy("vec_id", "rnk")
    },

    // ---------------------------------------------------------------
    // Scalar-quantized retrieval: embeddings stored as int8 (4x less
    // scan/shuffle at 100 TB), candidates ranked by QUANTIZED cosine —
    // the per-vector scales cancel in cos(qa, qb), so the approx
    // ranking is pure integer dot products (bit-identical across
    // engines) — then the top-20 candidates are re-ranked with exact
    // float cosine and the top-10 returned. The quantizer is
    // floor(x*127/max|x| + 0.5): same formula both engines (round()
    // half-away-from-zero semantics differ subtly; floor does not).
    Q("k6_quantized_knn",
      "int8-quantized candidate ranking + exact float rerank (top-20 -> top-10)",
      {
        implicit val dl: Dialect = SqlDuck
        val d = SqlDuck
        def mxabs(v: String) = d.foldD(v, "a_", "x_", "greatest(a_, abs(x_))")
        def quant(v: String, mx: String) =
          d.xform(v, "x_", s"cast(floor(x_ * 127.0 / $mx + 0.5) as bigint)")
        def idot(a: String, b: String) =
          d.foldL(d.seq0("64"), 0, "a_", "i_",
            s"a_ + ${d.idx(a, "i_")} * ${d.idx(b, "i_")}")
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |m AS (SELECT vec_id, v, ${mxabs("v")} AS mx FROM e),
           |qz AS (SELECT vec_id, v, ${quant("v", "mx")} AS qv FROM m WHERE mx > 0),
           |n AS (SELECT vec_id, v, qv, ${idot("qv", "qv")} AS qn,
           |             ${XSql.norm2("v")} AS n2 FROM qz),
           |q AS (SELECT v AS query_v, qv AS query_qv, qn AS query_qn, n2 AS query_n2
           |      FROM n WHERE vec_id = 0),
           |approx AS (
           |  SELECT vec_id, v, n2, query_v, query_n2,
           |    1.0 - cast(${idot("qv", "query_qv")} as double)
           |        / (sqrt(cast(qn as double)) * sqrt(cast(query_qn as double))) AS adist
           |  FROM n, q WHERE vec_id != 0
           |  ORDER BY adist, vec_id LIMIT 20)
           |SELECT vec_id,
           |  1.0 - ${XSql.cosineFromNorms(XSql.dot("v", "query_v"), "n2", "query_n2")} AS dist
           |FROM approx ORDER BY dist, vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      val dl = SqlSpark
      def mxabs(v: String) = dl.foldD(v, "a_", "x_", "greatest(a_, abs(x_))")
      def quant(v: String, mx: String) =
        dl.xform(v, "x_", s"cast(floor(x_ * 127.0 / $mx + 0.5) as bigint)")
      def idot(a: String, b: String) =
        dl.foldL(dl.seq0("64"), 0, "a_", "i_",
          s"a_ + ${dl.idx(a, "i_")} * ${dl.idx(b, "i_")}")
      val n = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .withColumn("mx", expr(mxabs("v")))
        .filter(col("mx") > 0)
        .withColumn("qv", expr(quant("v", "mx")))
        .withColumn("qn", expr(idot("qv", "qv")))
        .withColumn("n2", expr(XSql.norm2("v")(dl)))
        .select("vec_id", "v", "qv", "qn", "n2")
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("query_v"), col("qv").as("query_qv"),
          col("qn").as("query_qn"), col("n2").as("query_n2"))
      val approx = n.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .withColumn("adist",
          lit(1.0) - expr(idot("qv", "query_qv")).cast("double")
            / (sqrt(col("qn").cast("double")) * sqrt(col("query_qn").cast("double"))))
        .orderBy(col("adist"), col("vec_id"))
        .limit(20)
      approx
        .select(col("vec_id"),
          (lit(1.0) - expr(
            XSql.cosineFromNorms(XSql.dot("v", "query_v")(dl), "n2", "query_n2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // IVF with MULTI-PROBE: visit the 2 nearest centroid lists instead
    // of 1. Single-probe IVF loses neighbors that quantize across a
    // Voronoi boundary from the query; probing the runner-up list is
    // the standard recall fix and keeps the scan list-bounded (2/nlist
    // of the data). At scale the list id is a partition column, so
    // this is 2 partition reads — same pruning story as k2's buckets.
    Q("k7_ann_ivf_multiprobe",
      "IVF ANN over trained centroids, probing the 2 nearest lists, exact rerank",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydCtes(4)},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2)
           |SELECT n.vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n JOIN a2 ON n.vec_id = a2.vec_id, q
           |WHERE a2.cid IN (SELECT cid FROM pick) AND n.vec_id != 0
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      ivfTrained(s, d, probes = 2)
    },

    // ---------------------------------------------------------------
    Q("k3_ann_ivf",
      "IVF ANN over Lloyd-TRAINED centroids: assign lists, probe nearest list, rerank",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydCtes(4)},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 1)
           |SELECT n.vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n JOIN a2 ON n.vec_id = a2.vec_id, q
           |WHERE a2.cid IN (SELECT cid FROM pick) AND n.vec_id != 0
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      ivfTrained(s, d, probes = 1)
    },

    // ---------------------------------------------------------------
    // Lloyd's k-means (k=4, 2 fixed rounds) — the training loop that
    // PRODUCES the centroids k3/k7 probe, via [[graft.operators.KMeans]]
    // in gate-parity mode (sorted-fold means, bit-identical to the
    // oracle; KMeansSpec proves the production sum/count mean converges
    // to the same assignment). Gated outputs are all integers: cluster
    // sizes after each round, member-id sums, moved counts.
    // Scale shape: per round, ONE broadcast of k centroid rows over
    // the vector scan (assignment is map-side, no shuffle), then one
    // (cid, dim)-keyed partial aggregate for the update. Rounds are a
    // FIXED count — the driver loop never inspects data. No caching:
    // each pass re-scans parquet (the only shape that survives 100 TB;
    // the a1 recompute is one broadcast-argmin over the scan).
    Q("k9_kmeans_lloyd",
      "2 Lloyd rounds, k=4: deterministic assignment + per-dim mean update",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydMinId1Ctes(4)},
           |s1 AS (SELECT cid, count(*) AS n1 FROM a1 GROUP BY cid),
           |s2 AS (SELECT a2.cid, count(*) AS n2,
           |         cast(sum(a2.vec_id) as bigint) AS sum_ids2,
           |         cast(sum(CASE WHEN a1.cid != a2.cid THEN 1 ELSE 0 END) as bigint)
           |           AS n_moved
           |       FROM a2 JOIN a1 ON a2.vec_id = a1.vec_id GROUP BY a2.cid)
           |SELECT coalesce(s1.cid, s2.cid) AS cid,
           |  coalesce(s1.n1, 0) AS n1, coalesce(s2.n2, 0) AS n2,
           |  coalesce(s2.sum_ids2, 0) AS sum_ids2, coalesce(s2.n_moved, 0) AS n_moved
           |FROM s1 FULL JOIN s2 ON s1.cid = s2.cid ORDER BY cid""".stripMargin
      }) { (s, d) =>
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val c0 = graft.operators.KMeans.init(e, 4)
      val a1 = graft.operators.KMeans.assign(e, c0)
      val c1 = graft.operators.KMeans.meanUpdateSorted(e, a1)
      val a2 = graft.operators.KMeans.assign(e, c1)
      val s1 = a1.groupBy("cid").agg(count(lit(1)).as("n1"))
      val s2 = a2.join(a1.withColumnRenamed("cid", "cid1"), "vec_id")
        .groupBy("cid")
        .agg(count(lit(1)).as("n2"), sum(col("vec_id")).as("sum_ids2"),
          sum(when(col("cid1") =!= col("cid"), 1L).otherwise(0L)).as("n_moved"))
      s1.join(s2, Seq("cid"), "full_outer")
        .select(col("cid"),
          coalesce(col("n1"), lit(0L)).as("n1"),
          coalesce(col("n2"), lit(0L)).as("n2"),
          coalesce(col("sum_ids2"), lit(0L)).as("sum_ids2"),
          coalesce(col("n_moved"), lit(0L)).as("n_moved"))
        .orderBy("cid")
    },

    // ---------------------------------------------------------------
    // ANN recall audit — the number that decides whether an index
    // ships: recall@10 of ALL THREE approximate tiers (multi-probe
    // LSH = k2's machinery; trained two-probe IVF = k7's, on the
    // k9-trained centroids; PQ-ADC = k11's codebooks, candidates
    // cosine-reranked so every tier is judged on the SAME metric as
    // the truth set) against brute-force ground truth (k1's), one row
    // per method, in ONE query. This is the eval loop a 100 TB vector
    // store runs on every index build; all gated columns are integers
    // except the single-division recall. The tiers share the scan (no
    // cache: re-scanning parquet is the shape that survives 100 TB);
    // the 1-row counts combine via hinted broadcast crossJoins (the
    // e1 convention).
    //
    // Protocol (round 12): the audit READS THE SHIPPED INDEXES — the
    // k20-published IVF (centroids + posting lists) and the
    // k24-published PQ (codebooks + codes + rerank vectors) — and
    // trains NOTHING in-query, which is how a production loop runs
    // its recall evals (the index under audit is the one serving
    // traffic, and training it twice would audit a different
    // artifact). The one-off build cost lives in the publish step the
    // k20/k24 queries pay; every audit after it is rankings + report
    // joins only. The oracle is unchanged: trainLocal/trainLocalMulti
    // are bit-deterministic for a given corpus, so the published
    // centroids/codebooks equal the oracle's in-query CTE training
    // exactly (the same determinism contract k20/k24 already gate).
    // The brute-force ground truth is ONE single-probe TakeOrdered
    // scan (k1's 0.20 s): it is already an audit SAMPLE (one query
    // vector), never a population-sized denominator, so at scale the
    // audit cost stays O(corpus scan) per sampled query and the knob
    // is the sample size, not the truth computation.
    Q("k10_recall_report",
      "recall@10 of multi-probe LSH, trained-IVF, and PQ-ADC ANN vs brute-force ground truth",
      {
        implicit val dl: Dialect = SqlDuck
        val probeCond = (Seq("n.bucket = q.qb") ++
          (0 until Planes).map(p => s"n.bucket = xor(q.qb, ${1L << p})"))
          .mkString("(", " OR ", ")")
        val dist = s"1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")}"
        val (subCtes, codeJoins, adcSum) = pqCtes()
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydCtes(4)},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2, ${lshBucket("v")} AS bucket FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2, bucket AS qb FROM n WHERE vec_id = 0),
           |$subCtes,
           |truth AS (SELECT vec_id FROM n, q WHERE vec_id != 0
           |          ORDER BY $dist, vec_id LIMIT 10),
           |annlsh AS (SELECT vec_id FROM n, q WHERE $probeCond AND vec_id != 0
           |        ORDER BY $dist, vec_id LIMIT 10),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2),
           |annivf AS (SELECT n.vec_id FROM n JOIN a2 ON n.vec_id = a2.vec_id, q
           |  WHERE a2.cid IN (SELECT cid FROM pick) AND n.vec_id != 0
           |  ORDER BY $dist, n.vec_id LIMIT 10),
           |adc AS (
           |  SELECT e.vec_id,
           |    $adcSum AS ad2
           |  FROM e
           |  $codeJoins
           |  WHERE e.vec_id != 0
           |  ORDER BY ad2, e.vec_id LIMIT $PqRerank),
           |annpq AS (SELECT n.vec_id FROM n JOIN adc ON n.vec_id = adc.vec_id, q
           |  ORDER BY $dist, n.vec_id LIMIT 10)
           |SELECT 'lsh_multiprobe' AS method,
           |       (SELECT count(*) FROM truth) AS n_truth,
           |       (SELECT count(*) FROM annlsh) AS n_ann,
           |       (SELECT count(*) FROM truth JOIN annlsh USING (vec_id)) AS n_overlap,
           |       cast((SELECT count(*) FROM truth JOIN annlsh USING (vec_id)) as double)
           |         / 10.0 AS recall_at_10
           |UNION ALL
           |SELECT 'ivf2_trained' AS method,
           |       (SELECT count(*) FROM truth) AS n_truth,
           |       (SELECT count(*) FROM annivf) AS n_ann,
           |       (SELECT count(*) FROM truth JOIN annivf USING (vec_id)) AS n_overlap,
           |       cast((SELECT count(*) FROM truth JOIN annivf USING (vec_id)) as double)
           |         / 10.0 AS recall_at_10
           |UNION ALL
           |SELECT 'pq_adc' AS method,
           |       (SELECT count(*) FROM truth) AS n_truth,
           |       (SELECT count(*) FROM annpq) AS n_ann,
           |       (SELECT count(*) FROM truth JOIN annpq USING (vec_id)) AS n_overlap,
           |       cast((SELECT count(*) FROM truth JOIN annpq USING (vec_id)) as double)
           |         / 10.0 AS recall_at_10
           |ORDER BY method""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e
        .withColumn("n2", expr(XSql.norm2("v")))
        .withColumn("bucket", expr(lshBucket("v")))
        .select("vec_id", "v", "n2", "bucket")
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"), col("bucket").as("qb"))
      def dist = (lit(1.0) -
        expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2"))).as("dist")
      // each tier's 10-row id set feeds THREE report terms (count,
      // overlap join, denominator) — cache the results, not the
      // corpus: re-deriving `truth` means a full TakeOrdered scan per
      // term, and the cached sets are 10 rows regardless of scale
      val truth = n.crossJoin(broadcast(q)).filter(col("vec_id") =!= 0)
        .select(col("vec_id"), dist)
        .orderBy(col("dist"), col("vec_id")).limit(10).select("vec_id")
        .cache()
      val probes = q.select(col("qv"), col("qn2"),
        explode(array(Seq(col("qb")) ++
          (0 until Planes).map(p => col("qb").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
      val annLsh = n.join(broadcast(probes), Seq("bucket"))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), dist)
        .orderBy(col("dist"), col("vec_id")).limit(10).select("vec_id")
        .cache()
      import graft.operators.TableStore
      // IVF tier: k7's two-probe semantics answered FROM THE SHIPPED
      // k20 index — stored centroids pick 2 lists, stored posting
      // lists are probed by one broadcast equi-join; nothing trains
      val ivfRoot = publishedIvfIndex(s, d)
      val ivfCents = TableStore.readVersion(s, s"$ivfRoot/centroids")
      val ivfLists = TableStore.readVersion(s, s"$ivfRoot/lists")
      val pick = ivfCents.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2).select("cid")
      val annIvf = ivfLists.join(broadcast(pick), Seq("cid"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"), dist)
        .orderBy(col("dist"), col("vec_id")).limit(10).select("vec_id")
        .cache()
      // PQ tier: k11's ADC candidate semantics answered FROM THE
      // SHIPPED k24 index — stored codebooks build the 1-row distance
      // table, stored codes rank, cosine rerank on the truth metric
      val sub = PqSubDims
      val pqRoot = publishedPqIndex(s, d)
      val cb = TableStore.readVersion(s, s"$pqRoot/codebooks")
      val codes = TableStore.readVersion(s, s"$pqRoot/codes")
      val qsl = TableStore.readVersion(s, s"$pqRoot/vectors")
        .filter(col("vec_id") === 0)
        .withColumn("nrm", sqrt(col("n2")))
        .select(expr(SqlSpark.xform("v", "x_", "x_ / nrm")).as("nv"))
        .select(posexplode(array((0 until PqSub).map(i =>
          expr(s"slice(nv, ${i * sub + 1}, $sub)")): _*)))
        .withColumnsRenamed(Map("pos" -> "grp", "col" -> "qv"))
      val dt = cb.join(broadcast(qsl), Seq("grp"))
        .select(col("grp"), col("cid"),
          expr(XSql.dist2("qv", "cv")).as("dterm"))
      // sorted fold in grp order — bit-identical to the oracle's
      // left-associated t0 + t1 + ... sum
      val cand = codes.join(broadcast(dt), Seq("grp", "cid"))
        .filter(col("vec_id") =!= 0)
        .groupBy("vec_id")
        .agg(expr("aggregate(array_sort(collect_list(struct(grp, dterm))), " +
          "cast(0 as double), (a_, s_) -> a_ + s_.dterm)").as("ad2"))
        .orderBy(col("ad2"), col("vec_id")).limit(PqRerank)
      val annPq = cand.join(n, "vec_id").crossJoin(broadcast(q))
        .select(col("vec_id"), dist)
        .orderBy(col("dist"), col("vec_id")).limit(10).select("vec_id")
        .cache()
      // ONE report plan for all three tiers: tag-union the 10-row id
      // sets, two tiny groupBys and one broadcast overlap join — the
      // per-method crossJoin lattice this replaces cost ~9 broadcast
      // exchanges of 1-row aggregates (pure scheduling floor)
      val tagged = annLsh.withColumn("method", lit("lsh_multiprobe"))
        .unionByName(annIvf.withColumn("method", lit("ivf2_trained")))
        .unionByName(annPq.withColumn("method", lit("pq_adc")))
      val nAnn = tagged.groupBy("method").agg(count(lit(1)).as("n_ann"))
      val ov = tagged.join(broadcast(truth), Seq("vec_id"))
        .groupBy("method").agg(count(lit(1)).as("n_overlap"))
      nAnn.join(ov, Seq("method"), "left")
        .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
        .select(col("method"), col("n_truth"), col("n_ann"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          (coalesce(col("n_overlap"), lit(0L)).cast("double") / 10.0)
            .as("recall_at_10"))
        .orderBy("method")
    },

    // ---------------------------------------------------------------
    // Product quantization — the third trained index tier and the one
    // production vector stores pair with IVF at 100 TB: each vector is
    // stored as 8 sub-codes (8 subspaces x 8 dims, 8-entry codebooks
    // trained with the same Lloyd machinery as k9), and query-time
    // candidate ranking is ADC — a per-query distance TABLE of k
    // entries per subspace (8 x 8 = 64 doubles, broadcast), so ranking
    // a vector costs 8 lookups + 7 adds, NOT a 64-dim loop; the true
    // vectors are only read to rerank the PqRerank window. At scale
    // the codes table is ~64x smaller than the vectors (8 bytes vs
    // 512), which is the entire point: the scan that ranks 100 TB
    // touches under 2 TB. The tier serves COSINE: vectors are
    // L2-normalized before quantization (unit vectors make ADC-L2
    // order == cosine order — the standard cosine-through-PQ
    // discipline), candidates rank by ADC over the normalized slices,
    // and the rerank is exact cosine from the raw vectors (bit-pinned
    // fold, shared with the oracle).
    Q("k11_pq_ann",
      "cosine PQ ANN: L2-normalized 8x8-dim trained codebooks, ADC distance-table candidates, exact cosine rerank",
      {
        implicit val dl: Dialect = SqlDuck
        val (subCtes, codeJoins, adcSum) = pqCtes()
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |$subCtes,
           |adc AS (
           |  SELECT e.vec_id,
           |    $adcSum AS ad2
           |  FROM e
           |  $codeJoins
           |  WHERE e.vec_id != 0
           |  ORDER BY ad2, e.vec_id LIMIT $PqRerank)
           |SELECT adc.vec_id,
           |  1.0 - ${XSql.cosineFromNorms(XSql.dot("f.v", "q.qv"), "f.n2", "q.qn2")} AS dist
           |FROM adc JOIN n f ON adc.vec_id = f.vec_id, q
           |ORDER BY dist, adc.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val cand = pqCandidates(e, n = PqRerank)
      cand.join(n, "vec_id").crossJoin(broadcast(q))
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },

    // ---------------------------------------------------------------
    // BATCH ANN — the retrieval shape RAG inference actually runs:
    // top-k neighbors for a whole SET of query vectors in ONE bucket
    // equi-join, not a per-query loop. Every other k-query serves one
    // query vector (the o4-vs-s4 distinction, applied to vectors):
    // here ~1/97 of the vectors are the query batch, candidates come
    // from LSH-bucket collisions (query side explodes to its multi-
    // probe buckets; the corpus side is the same scan every single-
    // query tier uses), scoring is the codegen'd fold, and the top-3
    // per query is a rank window that WindowGroupLimit bounds below
    // the shuffle (the w2 machinery). Scale: ONE join keyed on bucket
    // — per-query cost amortizes into a single shuffle, which is why
    // batch retrieval is the only shape that survives 10k QPS.
    Q("k13_batch_ann",
      "top-3 LSH-bucket ANN for a whole query batch in one join (multi-probe, rank window)",
      {
        implicit val dl: Dialect = SqlDuck
        val dist = s"1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")}"
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2,
           |             ${lshBucket("v")} AS bucket FROM e),
           |q AS (SELECT vec_id AS q_id, v AS qv, n2 AS qn2,
           |             unnest(${SqlDuck.arrConcat(
                s"[bucket]",
                SqlDuck.xform(SqlDuck.seq0(Planes.toString), "p_",
                  "xor(bucket, " + SqlDuck.shiftLeft1("p_") + ")"))}) AS bucket
           |      FROM n WHERE vec_id % 97 = 0),
           |pairs AS (
           |  SELECT DISTINCT q.q_id, n.vec_id AS n_id, $dist AS dist
           |  FROM q JOIN n ON q.bucket = n.bucket AND q.q_id != n.vec_id),
           |ranked AS (
           |  SELECT q_id, n_id, dist,
           |    row_number() OVER (PARTITION BY q_id ORDER BY dist, n_id) AS rnk
           |  FROM pairs QUALIFY rnk <= 3)
           |SELECT q_id, rnk, n_id, dist
           |FROM ranked ORDER BY q_id, rnk""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import org.apache.spark.sql.expressions.Window
      graft.functions.GraftFunctions.register(s)
      val n = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .withColumn("n2", expr(XSql.norm2("v")))
        .withColumn("bucket", expr(lshBucket("v")))
        .select("vec_id", "v", "n2", "bucket")
      val q = n.filter(col("vec_id") % 97 === 0)
        .select(col("vec_id").as("q_id"), col("v").as("qv"),
          col("n2").as("qn2"),
          explode(array(Seq(col("bucket")) ++
            (0 until Planes).map(p =>
              col("bucket").bitwiseXOR(lit(1L << p))): _*)).as("bucket"))
      val w = Window.partitionBy("q_id").orderBy(col("dist"), col("n_id"))
      q.join(n, Seq("bucket"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(
            XSql.dot("v", "qv"), "n2", "qn2"))).as("dist"))
        .distinct()
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("q_id"), col("rnk"), col("n_id"), col("dist"))
        .orderBy("q_id", "rnk")
    },

    // ---------------------------------------------------------------
    // IVF + PQ — the composed index every production vector store
    // actually ships (FAISS/ScaNN architecture): coarse Lloyd lists
    // bound WHICH vectors are ranked (2/nlist of the data), PQ
    // codebooks trained on RESIDUALS (v - coarse centroid — residuals
    // are what PQ quantizes well, since the coarse term is already
    // factored out) bound HOW MUCH is read per vector (4 sub-codes).
    // Query time: pick 2 lists, build a PER-LIST ADC table from the
    // query's residual against each picked centroid (2 lists x 4
    // subspaces x 8 codes = 64 doubles, broadcast), rank each probed
    // vector by 4 lookups + 3 adds, exact-cosine rerank the top-20.
    // Scale: candidate volume is list-bounded AND the ranking scan
    // reads codes, not vectors — the two bounds compose.
    Q("k12_ivf_pq",
      "IVF+PQ: 2-probe coarse lists, residual-trained PQ codebooks, per-list ADC tables, exact rerank",
      {
        implicit val dl: Dialect = SqlDuck
        val sub = 16
        def resElem(v: String, c: String) =
          SqlDuck.xform(SqlDuck.seq0(Dims.toString), "i_",
            s"${SqlDuck.idx(v, "i_")} - ${SqlDuck.idx(c, "i_")}")
        val subCtes = (0 until 4).map { i =>
          s"""er$i AS (SELECT vec_id, ${SqlDuck.slice("v", s"${i * sub}", sub)} AS v FROM eres),
             |${lloydCtes(PqCodes, s"q$i", sub, s"er$i")},
             |dt$i AS (SELECT qres.list, cb.cid, ${XSql.dist2(
                SqlDuck.slice("qres.r", s"${i * sub}", sub), "cb.cv")} AS dterm
             |         FROM q${i}c1 cb, qres)""".stripMargin
        }.mkString(",\n")
        val codeJoins = (0 until 4).map { i =>
          s"JOIN q${i}a2 c$i ON e.vec_id = c$i.vec_id " +
            s"JOIN dt$i t$i ON t$i.list = a2.cid AND t$i.cid = c$i.cid"
        }.mkString("\n|  ")
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydCtes(4)},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |eres AS (SELECT e.vec_id, ${resElem("e.v", "c.cv")} AS v
           |         FROM e JOIN a2 ON e.vec_id = a2.vec_id
           |                JOIN c1 c ON a2.cid = c.cid),
           |pick AS (SELECT c1.cid AS list, c1.cv FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2),
           |qres AS (SELECT pick.list, ${resElem("q.qv", "pick.cv")} AS r
           |         FROM pick, q),
           |$subCtes,
           |adc AS (
           |  SELECT e.vec_id,
           |    t0.dterm + t1.dterm + t2.dterm + t3.dterm AS ad2
           |  FROM e
           |  JOIN a2 ON e.vec_id = a2.vec_id
           |  JOIN pick ON a2.cid = pick.list
           |  $codeJoins
           |  WHERE e.vec_id != 0
           |  ORDER BY ad2, e.vec_id LIMIT 20)
           |SELECT n.vec_id,
           |  1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM adc JOIN n ON adc.vec_id = n.vec_id, q
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import graft.operators.KMeans
      val sub = 16
      def resElem(v: String, c: String) =
        SqlSpark.xform(SqlSpark.seq0(Dims.toString), "i_",
          s"${SqlSpark.idx(v, "i_")} - ${SqlSpark.idx(c, "i_")}")
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      // production mean (see ivfTrained) — assignments match the
      // oracle's sorted-fold trainer per KMeansSpec
      val coarse = KMeans.trainLocal(e, 4, LloydRounds)
      // materialize the assigned vectors and residual set ONCE: the
      // four subspace trainings below each run several actions, and
      // without this every action would replay scan -> assign ->
      // residual from scratch. This is the same move a real index
      // build makes — write the list/codes table once, then train
      // against it — expressed here as an eager localCheckpoint
      // (rows x 64 doubles). The list id itself is withAssign's
      // per-row argmin on the scan: no (e ⋈ assignment) join.
      val eList = KMeans.withAssign(e, coarse)
        .withColumnRenamed("cid", "list").localCheckpoint(true)
      val eres = eList
        .join(broadcast(coarse.withColumnRenamed("cid", "list")), "list")
        .select(col("vec_id"), expr(resElem("v", "cv")).as("v"))
        .localCheckpoint(true)
      val pick = coarse.crossJoin(broadcast(q.select("qv")))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2)
        .select(col("cid").as("list"), col("cv"))
      val qres = pick.crossJoin(broadcast(q.select("qv")))
        .select(col("list"), expr(resElem("qv", "cv")).as("r"))
      // the 4 residual subquantizers train in ONE grouped trainer
      // (the pqCandidates move): explode each residual to its (grp,
      // slice) rows once; every init pass / Lloyd round advances all
      // groups in a single job
      def slices(vcol: String) = posexplode(
        array((0 until 4).map(i =>
          expr(s"slice($vcol, ${i * sub + 1}, $sub)")): _*))
      val erAll = eres.select(col("vec_id"), slices("v"))
        .withColumnsRenamed(Map("pos" -> "grp", "col" -> "v"))
      val cb = KMeans.trainLocalMulti(erAll, PqCodes, LloydRounds)
      val codes = KMeans.assignMulti(erAll, cb)
      // per-list ADC tables: the query residual against each picked
      // list, sliced to (list, grp, qr)
      val qresAll = qres.select(col("list"), slices("r"))
        .withColumnsRenamed(Map("pos" -> "grp", "col" -> "qr"))
      val dt = cb.join(broadcast(qresAll), "grp")
        .select(col("list"), col("grp"), col("cid"),
          expr(XSql.dist2("qr", "cv")).as("dterm"))
      val inLists = eList.select("vec_id", "list")
        .join(broadcast(pick.select("list")), "list")
      // ad2 folds per-subspace terms in grp order (sorted fold) —
      // bit-identical to the oracle's left-associated t0 + t1 + ... sum
      val adc = inLists.join(codes, "vec_id")
        .join(broadcast(dt), Seq("list", "grp", "cid"))
        .filter(col("vec_id") =!= 0)
        .groupBy("vec_id")
        .agg(expr("aggregate(array_sort(collect_list(struct(grp, dterm))), " +
          "cast(0 as double), (a_, s_) -> a_ + s_.dterm)").as("ad2"))
        .orderBy(col("ad2"), col("vec_id")).limit(20)
      adc.join(n, "vec_id").crossJoin(broadcast(q))
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },

    // ---------------------------------------------------------------
    // The serving live-similarity path end to end — the reference's
    // tuned k-NN reader (readers/games.py:188-225) behind its metric
    // allow-list (games.py:131-135), driven as a catalog query: top-10
    // under EVERY allowed metric (COSINE / DOT_PRODUCT / EUCLIDEAN) in
    // one gated result. The Spark side goes through serve.Readers —
    // the same object ReadersSpec drives — so the serving layer itself
    // crosses the oracle, not a re-implementation. Each metric is the
    // codegen'd vector_distance expression over one broadcast-query
    // scan + TakeOrderedAndProject; the oracle recomputes all three
    // with the same left-fold arithmetic (bit parity, the k1/k4
    // discipline).
    Q("k14_live_similarity",
      "serving live-similarity reader: top-10 under every allowed metric (COSINE/DOT_PRODUCT/EUCLIDEAN)",
      {
        implicit val dl: Dialect = SqlDuck
        def top(metric: String, dist: String) =
          s"""(SELECT '$metric' AS metric, vec_id, $dist AS dist
             |   FROM n, q WHERE vec_id != 0 ORDER BY dist, vec_id LIMIT 10)""".stripMargin
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0)
           |SELECT metric, vec_id, dist FROM (
           |${top("COSINE",
          s"1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")}")}
           |UNION ALL
           |${top("DOT_PRODUCT", s"-(${XSql.dot("n.v", "q.qv")})")}
           |UNION ALL
           |${top("EUCLIDEAN", s"sqrt(${XSql.dist2("n.v", "q.qv")})")})
           |ORDER BY metric, dist, vec_id""".stripMargin
      }) { (s, d) =>
      val r = graft.serve.Readers.build(s, d)
      val out = Seq("COSINE", "DOT_PRODUCT", "EUCLIDEAN").map { m =>
        r.similarLive(0L, m, 10)
          .select(lit(m).as("metric"), col("vec_id"), col("dist"))
      }.reduce(_.unionByName(_)).orderBy("metric", "dist", "vec_id")
      // transient reader: drop its (lazy, likely never-materialized)
      // serving caches so nothing squats on storage after the gate
      r.close()
      out
    },

    // ---------------------------------------------------------------
    // The bounded-sample training contract driven end to end — the
    // piece that makes trainLocal's 100 TB story concrete: centroids
    // are fitted on a DETERMINISTIC 1/3 sample (vec_id % 3 = 0 — the
    // exact pre-sampling discipline MaxTrainRows requires of a corpus
    // that no longer fits any trainer), then EVERY vector — sampled
    // or not — is list-assigned distributed and the probe runs as in
    // k3. At 100 TB the sample is the only part training ever reads;
    // the full corpus is touched exactly once, by the assignment scan.
    // The oracle recomputes the sampled training bit-identically
    // (lloydCtes over the sampled CTE) and the full-corpus assignment
    // with the same (d2, cid) ordering.
    Q("k15_sampled_train",
      "IVF trained on a deterministic 1/3 sample, full-corpus assignment, single-probe top-10",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |es AS (SELECT vec_id, v FROM e WHERE vec_id % 3 = 0),
           |${lloydCtes(4, src = "es")},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |af AS (SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${XSql.dist2("e.v", "c.cv")}, c.cid) AS rn
           |    FROM e, c1 c) WHERE rn = 1),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 1)
           |SELECT n.vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n JOIN af ON n.vec_id = af.vec_id, q
           |WHERE af.cid IN (SELECT cid FROM pick) AND n.vec_id != 0
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      // training reads ONLY the sample; the full corpus is touched
      // once, by the distributed assignment below
      val cents = graft.operators.KMeans
        .trainLocal(e.filter(col("vec_id") % 3 === 0), 4, LloydRounds)
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val pick = cents.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(1)
        .select("cid")
      graft.operators.KMeans.withAssign(n, cents)
        .join(broadcast(pick), Seq("cid"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // Incremental IVF maintenance — how a live vector index absorbs
    // new data WITHOUT retraining: the coarse centroids are trained
    // once on the base corpus and then FROZEN; a new batch is indexed
    // by assigning it under the frozen centroids (per-row broadcast
    // argmin over the batch scan only) and APPENDING its list rows to
    // the stored index. Query cost is unchanged (probe 2 lists,
    // rerank), build cost is O(new batch) — never O(corpus). The
    // oracle trains on the base subset and assigns everything under
    // those centroids in one shot, so the gate proves append-indexed
    // == bulk-indexed. (Centroid drift under sustained growth is the
    // operational trigger for a scheduled retrain — a policy knob, not
    // an engine gap.)
    Q("k16_ivf_incremental",
      "frozen-centroid IVF add: O(batch) index maintenance == bulk-built index",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |eo AS (SELECT vec_id, v FROM e WHERE vec_id % 3 != 2),
           |${lloydCtes(4, src = "eo")},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |af AS (SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${XSql.dist2("e.v", "c.cv")}, c.cid) AS rn
           |    FROM e, c1 c) WHERE rn = 1),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2)
           |SELECT n.vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n JOIN af ON n.vec_id = af.vec_id, q
           |WHERE af.cid IN (SELECT cid FROM pick) AND n.vec_id != 0
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val path = Scratch.dir("k16").resolve("ivf").toString
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val base = n.filter(col("vec_id") % 3 =!= 2)
      val batch = n.filter(col("vec_id") % 3 === 2)
      // train ONCE on the base corpus; the batch never touches training
      val cents = graft.operators.KMeans
        .trainLocal(base.select("vec_id", "v"), 4, LloydRounds)
      // index build, then O(batch) maintenance: assign only the new
      // rows under the FROZEN centroids and append their list rows
      graft.operators.TableStore.overwrite(
        graft.operators.KMeans.withAssign(base, cents), path)
      graft.operators.TableStore.append(
        graft.operators.KMeans.withAssign(batch, cents), path)
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val pick = cents.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2)
        .select("cid")
      graft.operators.TableStore.read(s, path)
        .join(broadcast(pick), Seq("cid"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // PUBLISHED-index ANN serving — closes the amortization the k10
    // cost anatomy only asserted: k10/k3/k16 retrain inside every
    // query because catalog queries are self-contained; HERE the
    // trained centroids and posting lists are published ONCE per
    // dataset as versioned TableStore tables (publishedIvfIndex) and
    // the query answers a 16-vector batch by READING them — no
    // training aggregate, no embeddings re-scan (the lists carry
    // vector + norm), just two index-table reads, a broadcast probe
    // pick, and per-query top-10 rerank, audited k10-style against
    // per-query brute-force truth. PublishedIndexSpec proves the
    // second invocation performs zero publishes and scans only the
    // index tables. At scale: lists partitioned by cid → each query
    // reads 2 partitions; the 16-query batch shares one probe scan.
    Q("k20_published_index",
      "ANN from a PUBLISHED IVF index (read-only query path): per-query recall@10 vs brute force",
      {
        implicit val dl: Dialect = SqlDuck
        val dist = s"1.0 - ${XSql.cosineFromNorms(
          XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")}"
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydCtes(4)},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |qs AS (SELECT vec_id AS qid, v AS qv, n2 AS qn2 FROM n WHERE vec_id < 16),
           |truth AS (SELECT qid, vec_id FROM (
           |    SELECT q.qid, n.vec_id,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY $dist, n.vec_id) AS rn
           |    FROM n, qs q WHERE n.vec_id != q.qid) WHERE rn <= 10),
           |pick AS (SELECT qid, cid FROM (
           |    SELECT q.qid, c.cid,
           |      row_number() OVER (PARTITION BY q.qid
           |        ORDER BY ${XSql.dist2("q.qv", "c.cv")}, c.cid) AS rn
           |    FROM c1 c, qs q) WHERE rn <= 2),
           |ann AS (SELECT qid, vec_id FROM (
           |    SELECT p.qid, n.vec_id,
           |      row_number() OVER (PARTITION BY p.qid
           |        ORDER BY $dist, n.vec_id) AS rn
           |    FROM n JOIN a2 ON n.vec_id = a2.vec_id
           |         JOIN pick p ON a2.cid = p.cid
           |         JOIN qs q ON q.qid = p.qid
           |    WHERE n.vec_id != p.qid) WHERE rn <= 10),
           |ov AS (SELECT qid, count(*) AS n_overlap
           |       FROM truth JOIN ann USING (qid, vec_id) GROUP BY qid)
           |SELECT qs.qid, cast(10 as bigint) AS n_truth,
           |  (SELECT count(*) FROM ann a WHERE a.qid = qs.qid) AS n_ann,
           |  coalesce(ov.n_overlap, 0) AS n_overlap,
           |  cast(coalesce(ov.n_overlap, 0) as double) / 10.0 AS recall_at_10
           |FROM qs LEFT JOIN ov ON qs.qid = ov.qid
           |ORDER BY qs.qid""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import org.apache.spark.sql.expressions.Window
      import graft.operators.TableStore
      val root = publishedIvfIndex(s, d)
      // the ENTIRE query surface below reads the two published tables
      // — vectors and norms come from the lists, never from a fresh
      // embeddings scan, and nothing below trains anything
      val cents = TableStore.readVersion(s, s"$root/centroids")
      val lists = TableStore.readVersion(s, s"$root/lists")
      val qs = lists.filter(col("vec_id") < 16)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("n2").as("qn2"))
      val dist = (lit(1.0) - expr(XSql.cosineFromNorms(
        XSql.dot("v", "qv"), "n2", "qn2"))).as("dist")
      def top10(in: org.apache.spark.sql.DataFrame) = {
        val w = Window.partitionBy("qid").orderBy(col("dist"), col("vec_id"))
        in.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10).select("qid", "vec_id")
      }
      val truth = top10(lists.crossJoin(broadcast(qs))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), dist))
      val pickW = Window.partitionBy("qid").orderBy(col("d2"), col("cid"))
      val pick = cents.crossJoin(broadcast(qs))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .withColumn("rn", row_number().over(pickW))
        .filter(col("rn") <= 2)
        .select("qid", "cid")
      // probe: equi-join the posting lists on the picked (qid, cid)
      // pairs — at scale a 2-partition read per query, never a scan
      val ann = top10(lists.join(broadcast(pick), Seq("cid"))
        .join(broadcast(qs), Seq("qid"))
        .filter(col("vec_id") =!= col("qid"))
        .select(col("qid"), col("vec_id"), dist))
      val ov = truth.join(ann, Seq("qid", "vec_id"))
        .groupBy("qid").agg(count(lit(1)).as("n_overlap"))
      val nAnn = ann.groupBy("qid").agg(count(lit(1)).as("n_ann"))
      qs.select("qid")
        .join(nAnn, Seq("qid"), "left")
        .join(ov, Seq("qid"), "left")
        .select(col("qid"), lit(10L).as("n_truth"),
          coalesce(col("n_ann"), lit(0L)).as("n_ann"),
          coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
          (coalesce(col("n_overlap"), lit(0L)).cast("double") / 10.0)
            .as("recall_at_10"))
        .orderBy("qid")
    },

    // ---------------------------------------------------------------
    // The published index's MAINTENANCE tick — k16's frozen-centroid
    // absorption composed with k20's publish-once serving store: the
    // posting lists are a FOLD TABLE (v0 = base assignments, absorb =
    // one O(batch) fold delta of the new batch assigned under the
    // frozen published centroids), and the query READS the folded
    // lists — no retraining, no list rewrite, no base re-assignment.
    // The oracle bulk-assigns the full corpus under the base-trained
    // centroids (k16's invariant: append-indexed == bulk-indexed), so
    // the green row proves the fold-published absorb path serves
    // exactly the bulk-built index. PublishedIndexSpec additionally
    // meters the absorb write: exactly one delta version, row count
    // == batch size.
    Q("k22_published_absorb",
      "published IVF absorb tick: O(batch) fold-delta publish under frozen centroids == bulk-built index",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |eo AS (SELECT vec_id, v FROM e WHERE vec_id % 3 != 2),
           |${lloydCtes(4, src = "eo")},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |af AS (SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${XSql.dist2("e.v", "c.cv")}, c.cid) AS rn
           |    FROM e, c1 c) WHERE rn = 1),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2)
           |SELECT n.vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n JOIN af ON n.vec_id = af.vec_id, q
           |WHERE af.cid IN (SELECT cid FROM pick) AND n.vec_id != 0
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import graft.operators.TableStore
      val root = publishedIvfIndexIncremental(s, d)
      // read-only query path over the published store: centroids +
      // the FOLDED lists (anchor snapshot ⊎ absorb delta)
      val cents = TableStore.readVersion(s, s"$root/centroids")
      val lists = TableStore.readFolded(s, s"$root/lists").drop("_mult")
      val q = lists.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val pick = cents.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2)
        .select("cid")
      lists.join(broadcast(pick), Seq("cid"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // k22's absorb tick in the CONTINUOUS loop — the freshly-indexed
    // vector store a streaming embedding feed keeps warm: new vectors
    // arrive as micro-batches, each tick assigns ONLY its slice under
    // the frozen published centroids and publishes the rows as one
    // O(batch) fold delta (tick-note guarded, so redelivery skips —
    // the st17/applyTick WAL discipline on the index's posting
    // lists). The query then reads the folded lists; the oracle
    // bulk-assigns the full corpus under the base-trained centroids,
    // so the green row proves stream-of-absorbs == bulk-built at any
    // batch split. At 100 TB: per-tick cost is the batch's argmin
    // pass + one delta write; compaction folds the chain on the
    // operator's cadence, and queries stay 2 partition reads.
    Q("st18_stream_ann_ingest",
      "embedding stream absorbed into the published IVF index tick by tick == bulk-built index",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |eo AS (SELECT vec_id, v FROM e WHERE vec_id % 3 != 2),
           |${lloydCtes(4, src = "eo")},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |af AS (SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${XSql.dist2("e.v", "c.cv")}, c.cid) AS rn
           |    FROM e, c1 c) WHERE rn = 1),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2)
           |SELECT n.vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n JOIN af ON n.vec_id = af.vec_id, q
           |WHERE af.cid IN (SELECT cid FROM pick) AND n.vec_id != 0
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import graft.operators.{KMeans, TableStore}
      import graft.streaming.{EventStream, JoinViewMaintenance}
      val tmp = Scratch.dir("st18")
      val lists = tmp.resolve("lists").toString
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val base = n.filter(col("vec_id") % 3 =!= 2)
      val batch = n.filter(col("vec_id") % 3 === 2)
      // build once: frozen centroids + the base posting lists as the
      // fold anchor
      val cents = KMeans.trainLocal(base.select("vec_id", "v"), 4, LloydRounds)
      TableStore.publishFoldSnapshot(s, lists,
        KMeans.withAssign(base, cents), note = "tick=-1")
      // the embedding feed: the new batch replayed as micro-batches
      val stream = EventStream.stagedFileStream(s, batch,
        tmp.resolve("stage").toString, nFiles = EventStream.ticks(3))
      EventStream.runForeachBatch(s, stream,
        Some(tmp.resolve("ckpt").toString)) { (slice, bid) =>
        // tick-guarded O(batch) absorb: assignment is pointwise, so
        // any slice split composes to the bulk assignment
        if (JoinViewMaintenance.tickVersion(s, lists, bid).isEmpty)
          TableStore.publishFoldDelta(s, lists,
            KMeans.withAssign(slice, cents).withColumn("_mult", lit(1L)),
            s"tick=$bid"): Unit
      }
      // the serving read: folded lists, 2-probe, exact rerank
      val folded = TableStore.readFolded(s, lists).drop("_mult")
      val q = folded.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val pick = cents.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2)
        .select("cid")
      folded.join(broadcast(pick), Seq("cid"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // Filtered vector search — ANN under a metadata predicate (the
    // RAG shape: "nearest documents WHERE lang = 'de'"). The
    // discipline being gated is PRE-filtering: the predicate prunes
    // candidates BEFORE any distance work (a broadcast semi-join on
    // the filtered doc ids — at scale the filter column is a
    // partition key and this is partition pruning), and the IVF tier
    // intersects its probed lists with the same filter. The naive
    // alternative — post-filtering an unfiltered top-k — silently
    // under-fills k whenever the predicate is selective (here 'de' is
    // ~14% of the corpus, so an unfiltered top-10 would keep ~1 row).
    // Both tiers ride one result: 'exact' is the filtered brute-force
    // truth, 'ivf2' the filtered 2-probe trained index — the oracle
    // reproduces both, so list-intersection correctness is
    // hash-gated, not spot-checked.
    Q("k17_filtered_ann",
      "pre-filtered ANN: metadata predicate prunes before distance; exact + filtered-IVF tiers",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydCtes(4)},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |f AS (SELECT n.vec_id, n.v, n.n2 FROM n
           |      JOIN documents dd ON n.vec_id = dd.doc_id
           |      WHERE dd.lang = 'de'),
           |ex AS (SELECT 'exact' AS tier, f.vec_id,
           |    1.0 - ${XSql.cosineFromNorms(XSql.dot("f.v", "q.qv"), "f.n2", "q.qn2")} AS dist
           |  FROM f, q WHERE f.vec_id != 0 ORDER BY dist, f.vec_id LIMIT 10),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2),
           |iv AS (SELECT 'ivf2' AS tier, f.vec_id,
           |    1.0 - ${XSql.cosineFromNorms(XSql.dot("f.v", "q.qv"), "f.n2", "q.qn2")} AS dist
           |  FROM f JOIN a2 ON f.vec_id = a2.vec_id, q
           |  WHERE a2.cid IN (SELECT cid FROM pick) AND f.vec_id != 0
           |  ORDER BY dist, f.vec_id LIMIT 10)
           |SELECT * FROM ex UNION ALL SELECT * FROM iv
           |ORDER BY tier, dist, vec_id""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      // pre-filter: the predicate's id set semi-joins the vector scan
      // BEFORE any distance is computed
      val ids = t(s, d, "documents").filter(col("lang") === "de")
        .select(col("doc_id").as("vec_id"))
      val f = n.join(broadcast(ids), Seq("vec_id"), "left_semi")
      def tier(name: String, in: org.apache.spark.sql.DataFrame) =
        in.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= 0)
          .select(lit(name).as("tier"), col("vec_id"),
            (lit(1.0) - expr(XSql.cosineFromNorms(
              XSql.dot("v", "qv"), "n2", "qn2"))).as("dist"))
          .orderBy(col("dist"), col("vec_id")).limit(10)
      val cents = graft.operators.KMeans.trainLocal(e, 4, LloydRounds)
      val pick = cents.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2)
        .select("cid")
      // per-row argmin assignment restricted to the FILTERED set —
      // assignment is pointwise, so filtered-then-assigned equals the
      // oracle's assigned-then-filtered
      val ivf = graft.operators.KMeans.withAssign(f, cents)
        .join(broadcast(pick), Seq("cid"))
      tier("exact", f).unionByName(tier("ivf2", ivf.drop("cid")))
        .orderBy("tier", "dist", "vec_id")
    },

    // ---------------------------------------------------------------
    // PCA by power iteration, exact integer fixed-point — the
    // dimensionality-reduction / spectral shape: the dominant
    // principal direction of the (uncentered) gram matrix XᵀX,
    // computed WITHOUT materializing XᵀX (64×64 here, but dim² rows
    // at real width): each round is v ← XᵀXv as two keyed passes —
    // s_i = ⟨x_i, v⟩ per row, then w_j = Σ_i q_ij·s_i per dim — the
    // classic distributed matvec pair. Everything is INTEGER: vectors
    // quantize once to a 1e3 grid (per-row IEEE round, deterministic),
    // v renormalizes each round to max|v| = 1000 by nonnegative
    // integer division (sign split out — floor-vs-trunc division
    // semantics differ between engines ONLY for negatives, so the
    // divide never sees one). Integer sums are order-invariant →
    // bit-identical at any partition count, where float power
    // iteration drifts. Magnitude ladder at sf0.01: |s| ≤ 64·530·1000
    // ≈ 3.4e7, |w| ≤ n·530·|s| ≈ 9e12, |w|·1000 ≈ 9e15 < 2^63; at
    // ≥1e8 rows, rescale s by div 1024 per round — same contract,
    // one more integer op. The 64-row v and 1-row max broadcast each
    // round; the exploded (vec_id, j, q) table is built ONCE.
    Q("k18_pca_power",
      "dominant principal direction via 3 integer fixed-point power-iteration rounds",
      {
        implicit val dl: Dialect = SqlDuck
        val arr = vDouble(SqlDuck)
        def rnd(prev: String, k: Int): String =
          s"""s$k AS (SELECT r.vec_id, cast(sum(r.q * v.v) AS BIGINT) AS s
             |        FROM rows r JOIN $prev v ON v.j = r.j GROUP BY r.vec_id),
             |w$k AS (SELECT r.j, cast(sum(r.q * s.s) AS BIGINT) AS w
             |        FROM rows r JOIN s$k s ON s.vec_id = r.vec_id GROUP BY r.j),
             |m$k AS (SELECT max(abs(w)) AS m FROM w$k),
             |v$k AS (SELECT j, CASE WHEN w < 0
             |          THEN -cast((abs(w) * 1000) // m AS BIGINT)
             |          ELSE  cast((abs(w) * 1000) // m AS BIGINT) END AS v
             |        FROM w$k, m$k)""".stripMargin
        s"""WITH e AS (SELECT vec_id, $arr AS a FROM embeddings),
           |rows AS (SELECT vec_id, i AS j,
           |           cast(round(a[i + 1] * 1000) AS BIGINT) AS q
           |         FROM e, UNNEST(range(64)) AS t(i)),
           |v0 AS (SELECT j, cast(1000 AS BIGINT) AS v FROM range(64) t(j)),
           |${rnd("v0", 1)},
           |${rnd("v1", 2)},
           |${rnd("v2", 3)}
           |SELECT j, v AS v_fp, round(cast(v AS double) / 1000.0, 3) AS loading
           |FROM v3 ORDER BY j""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val rows = t(s, d, "embeddings").select(col("vec_id"),
          posexplode(expr(
            s"transform(${vDouble(SqlSpark)}, x_ -> cast(round(x_ * 1000) AS bigint))"))
            .as(Seq("j", "q")))
        .cache()
      val v0 = s.range(64).select(col("id").as("j"), lit(1000L).as("v"))
      val v3 = (1 to 3).foldLeft(v0) { (v, _) =>
        val si = rows.join(broadcast(v), "j")
          .groupBy("vec_id").agg(sum(col("q") * col("v")).as("s"))
        // cache the dim-sized w: the max and the renormalized v both
        // consume it, and the next round re-reads v — without the cut,
        // each round re-evaluates its predecessors' whole chains
        val w = rows.join(si, "vec_id")
          .groupBy("j").agg(sum(col("q") * col("s")).as("w"))
          .cache()
        val m = w.agg(max(abs(col("w"))).as("m"))
        w.crossJoin(broadcast(m)).select(col("j"),
          (when(col("w") < 0, -1L).otherwise(1L)
            * expr("(abs(w) * 1000) div m")).as("v"))
      }
      v3.select(col("j"), col("v").as("v_fp"),
          round(col("v").cast("double") / 1000.0, 3).as("loading"))
        .orderBy("j")
    },

    // ---------------------------------------------------------------
    // Semantic decontamination — c5 catches eval contamination by
    // n-gram OVERLAP; this catches what paraphrase survives: a
    // benchmark item whose EMBEDDING nearly coincides with a training
    // vector. The benchmark set here is constructed contamination
    // (every 20th vector, one dim nudged +0.01 — cosine ≈ 0.9999 to
    // its source, the d1-doubling idiom for vectors), so the query
    // must find exactly those plants. Shape: the benchmark side is
    // TINY by nature (an eval suite), so its multi-probe rows
    // (bucket + all hamming-1 buckets, covering single boundary-bit
    // flips from the perturbation) BROADCAST; the training corpus
    // scans ONCE and candidates come from the bucket equi-join —
    // never an all-pairs product. Exact cosine ≥ 0.95 verifies
    // candidates; flagged training rows are the removal list.
    //
    // LSH width is OCCUPANCY-CAPPED, not fixed: planes = the smallest
    // np >= LshPlanes with TargetOcc·2^np >= corpus size, so expected
    // per-bucket occupancy stays <= TargetOcc as the corpus grows.
    // At a FIXED width, occupancy grows linearly with the corpus and
    // the candidate count goes quadratic when the probe set co-scales
    // (measured 13× wall at 10× data in round 8); with the width tied
    // to the corpus, candidates ~ probes·(np+1)·TargetOcc = O(N log N).
    // Both engines derive np from the same count: Spark reads it once
    // at plan-build (a metadata count — index-build discipline, like
    // the k-means trainers), the oracle computes it in a scalar CTE;
    // plane coefficients come from the generating formula so no
    // fixed-size constant array caps the width.
    Q("c12_semantic_decontamination",
      "embedding-level eval decontamination: broadcast multi-probe bucket join (occupancy-capped LSH width) + exact cosine verify",
      {
        implicit val dl: Dialect = SqlDuck
        val np = "(SELECT np FROM npc)"
        val probeList = s"list_concat([qb], list_transform(" +
          s"range(0, $np), px_ -> xor(qb, (cast(1 as bigint) << px_))))"
        s"""WITH npc AS (SELECT greatest(${Planes}, (SELECT min(np_)
           |        FROM (SELECT unnest(range(1, 56)) AS np_)
           |        WHERE (cast(1 as bigint) << np_) * $TargetOcc >=
           |          (SELECT count(*) FROM embeddings))) AS np),
           |e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |b AS (SELECT vec_id + 10000 AS bench_id,
           |        list_concat([v[1] + 0.01], v[2:]) AS bv
           |      FROM e WHERE vec_id % 20 = 0),
           |bn AS (SELECT bench_id, bv, ${XSql.norm2("bv")} AS n2b,
           |         ${lshBucketDyn("bv", np)} AS qb FROM b),
           |probes AS (SELECT bench_id, bv, n2b, unnest($probeList) AS bucket FROM bn),
           |t AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2,
           |        ${lshBucketDyn("v", np)} AS bucket FROM e),
           |cand AS (SELECT p.bench_id, t.vec_id,
           |           ${XSql.cosineFromNorms(XSql.dot("t.v", "p.bv"), "t.n2", "p.n2b")} AS sim
           |         FROM t JOIN probes p ON t.bucket = p.bucket)
           |SELECT bench_id, vec_id AS train_id, round(sim, 6) AS sim
           |FROM cand WHERE sim >= 0.95
           |ORDER BY bench_id, train_id""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .select("vec_id", "v")
      val np = occupancyCappedPlanes(e.count())
      val b = e.filter(col("vec_id") % 20 === 0)
        .select((col("vec_id") + 10000L).as("bench_id"),
          expr("concat(array(element_at(v, 1) + 0.01d), slice(v, 2, 63))").as("bv"))
        .withColumn("qb", expr(lshBucketDyn("bv", np.toString)))
      val probes = b.select(col("bench_id"), col("bv"),
        explode(array(Seq(col("qb")) ++
          (0 until np).map(p => col("qb").bitwiseXOR(lit(1L << p))): _*))
          .as("bucket"))
      val tr = e
        .withColumn("bucket", expr(lshBucketDyn("v", np.toString)))
      // exact verify runs the NATIVE single-loop cosine (codegen'd;
      // XSql.cosineFromNorms's exact arithmetic) — the interpreted
      // fold-lambda form re-evaluates inside the pushed-down join
      // condition per CANDIDATE and was the wall-clock floor here
      tr.join(broadcast(probes), Seq("bucket"))
        .select(col("bench_id"), col("vec_id").as("train_id"),
          expr("vector_distance(v, bv, 'cosine_sim')").as("sim"))
        .filter(col("sim") >= 0.95)
        .select(col("bench_id"), col("train_id"), round(col("sim"), 6).as("sim"))
        .orderBy("bench_id", "train_id")
    },

    // ---------------------------------------------------------------
    // Assignment-drift monitor — the retrain-policy loop for a live
    // ANN index (k16 shows HOW to absorb a batch without retraining;
    // this measures WHEN that stops being safe): centroids trained on
    // the base corpus (vec_id % 3 != 2) vs centroids trained on the
    // full corpus, every vector assigned under BOTH (two broadcast
    // argmin passes over one scan each), and the drift report is the
    // (base_cid, full_cid, n) CONTINGENCY TABLE — renumbering-
    // agnostic, unlike a naive cid equality which breaks the moment
    // the seeding picks different ids. A diagonal-dominant table says
    // the frozen index is still partitioning like a fresh one; mass
    // off every row-max says rebuild. Scale: trainings are bounded-
    // sample local fits (k15's contract); the measurement is two
    // broadcast joins + one tiny keyed count — O(n), no pairs.
    Q("k19_assignment_drift",
      "retrain-policy drift report: contingency of assignments under base-trained vs full-trained centroids",
      {
        implicit val dl: Dialect = SqlDuck
        def assignCte(name: String, cents: String): String =
          s"""$name AS (SELECT vec_id, cid FROM (
             |    SELECT e.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${XSql.dist2("e.v", "c.cv")}, c.cid) AS rn
             |    FROM e, $cents c) WHERE rn = 1)""".stripMargin
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |eb AS (SELECT vec_id, v FROM e WHERE vec_id % 3 != 2),
           |${lloydCtes(4, p = "b", src = "eb")},
           |${lloydCtes(4, p = "f", src = "e")},
           |${assignCte("asb", "bc1")},
           |${assignCte("asf", "fc1")}
           |SELECT asb.cid AS base_cid, asf.cid AS full_cid, count(*) AS n
           |FROM asb JOIN asf ON asb.vec_id = asf.vec_id
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import graft.operators.KMeans
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .select("vec_id", "v")
      val base = e.filter(col("vec_id") % 3 =!= 2)
      val cb = KMeans.trainLocal(base, 4, LloydRounds)
      val cf = KMeans.trainLocal(e, 4, LloydRounds)
      val ab = KMeans.withAssign(e, cb)
        .select(col("vec_id"), col("cid").as("base_cid"))
      val af = KMeans.withAssign(e, cf)
        .select(col("vec_id"), col("cid").as("full_cid"))
      ab.join(af, "vec_id")
        .groupBy("base_cid", "full_cid")
        .agg(count(lit(1)).as("n"))
        .orderBy("base_cid", "full_cid")
    },

    // ---------------------------------------------------------------
    // The retrain DECISION — k19's contingency report closed into the
    // policy loop it exists for: drift = 1 - (Σ per-base-cluster
    // majority overlap)/n (renumbering-agnostic — a relabeled but
    // identical clustering scores 0), and the rebuild flag
    // (drift ≥ 5%) DRIVES which serving path the query takes: rebuild
    // → a fresh full-trained index (k3's build path); keep → the
    // frozen base-trained centroids k16 keeps absorbing into. Only
    // the CHOSEN path's probe plan executes (the decision is one
    // bounded k×k driver collect); the oracle recomputes both
    // clusterings, the same drift scalar, and CASE-selects the same
    // path — so the gate covers the decision arithmetic AND the
    // selected path's result. This is the index-ops control loop at
    // 100 TB: monitor cheap (two broadcast argmin passes), rebuild
    // expensive (full retrain) only when the monitor trips.
    Q("k21_retrain_policy",
      "retrain decision: k19 drift >= 5% selects rebuild-full vs absorb-frozen, chosen path's top-10",
      {
        implicit val dl: Dialect = SqlDuck
        def assignCte(name: String, cents: String): String =
          s"""$name AS (SELECT vec_id, cid FROM (
             |    SELECT e.vec_id, c.cid,
             |      row_number() OVER (PARTITION BY e.vec_id
             |        ORDER BY ${XSql.dist2("e.v", "c.cv")}, c.cid) AS rn
             |    FROM e, $cents c) WHERE rn = 1)""".stripMargin
        def pathCtes(tag: String, cents: String, assign: String): String =
          s"""${tag}pick AS (SELECT c.cid FROM $cents c, q
             |  ORDER BY ${XSql.dist2("q.qv", "c.cv")}, c.cid LIMIT 2),
             |${tag}top AS (SELECT n.vec_id,
             |    1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
             |  FROM n JOIN $assign a ON n.vec_id = a.vec_id, q
             |  WHERE a.cid IN (SELECT cid FROM ${tag}pick) AND n.vec_id != 0
             |  ORDER BY dist, n.vec_id LIMIT 10)""".stripMargin
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |eb AS (SELECT vec_id, v FROM e WHERE vec_id % 3 != 2),
           |${lloydCtes(4, p = "b", src = "eb")},
           |${lloydCtes(4, p = "f", src = "e")},
           |${assignCte("asb", "bc1")},
           |${assignCte("asf", "fc1")},
           |cont AS (SELECT asb.cid AS base_cid, asf.cid AS full_cid, count(*) AS n
           |         FROM asb JOIN asf ON asb.vec_id = asf.vec_id GROUP BY 1, 2),
           |dr AS (SELECT 1.0 - cast(sum(mx) as double) / cast(sum(tot) as double) AS drift
           |       FROM (SELECT base_cid, max(n) AS mx, sum(n) AS tot
           |             FROM cont GROUP BY base_cid)),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |${pathCtes("f", "fc1", "asf")},
           |${pathCtes("b", "bc1", "asb")}
           |SELECT t.vec_id, t.dist,
           |  (SELECT drift FROM dr) AS drift_frac,
           |  (SELECT drift FROM dr) >= 0.05 AS rebuild,
           |  CASE WHEN (SELECT drift FROM dr) >= 0.05 THEN 'rebuild-full'
           |       ELSE 'absorb-frozen' END AS path
           |FROM (
           |  SELECT * FROM ftop WHERE (SELECT drift FROM dr) >= 0.05
           |  UNION ALL
           |  SELECT * FROM btop WHERE (SELECT drift FROM dr) < 0.05) t
           |ORDER BY t.dist, t.vec_id""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import graft.operators.KMeans
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .select("vec_id", "v")
      val base = e.filter(col("vec_id") % 3 =!= 2)
      val cb = KMeans.trainLocal(base, 4, LloydRounds)
      val cf = KMeans.trainLocal(e, 4, LloydRounds)
      val ab = KMeans.withAssign(e, cb)
        .select(col("vec_id"), col("cid").as("base_cid"))
      val af = KMeans.withAssign(e, cf)
        .select(col("vec_id"), col("cid").as("full_cid"))
      // the decision scalar: one k×k contingency, majority overlap per
      // base cluster — BOUNDED driver collect (≤ k rows), the monitor
      // read an index-ops controller performs once per build window
      val perBase = ab.join(af, "vec_id")
        .groupBy("base_cid", "full_cid")
        .agg(count(lit(1)).as("n"))
        .groupBy("base_cid")
        .agg(max("n").as("mx"), sum("n").as("tot"))
        .agg(sum("mx").as("mx"), sum("tot").as("tot"))
        .head()
      val drift = 1.0 - perBase.getLong(0).toDouble / perBase.getLong(1).toDouble
      val rebuild = drift >= 0.05
      // ONLY the chosen path's plan is built and executed
      val cents = if (rebuild) cf else cb
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      val q = n.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val pick = cents.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2)
        .select("cid")
      KMeans.withAssign(n, cents)
        .join(broadcast(pick), Seq("cid"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
        .select(col("vec_id"), col("dist"),
          lit(drift).as("drift_frac"), lit(rebuild).as("rebuild"),
          lit(if (rebuild) "rebuild-full" else "absorb-frozen").as("path"))
        .orderBy(col("dist"), col("vec_id"))
    },

    // ---------------------------------------------------------------
    // K23 — deletion flowing INTO the published ANN index (c18's
    // GDPR cascade reaching the vector store): the forget set's
    // posting-list rows are retracted with ONE signed -1 fold delta —
    // re-assigned under the FROZEN centroids, so the retraction rows
    // are bit-identical to what the build inserted and the multiset
    // nets to zero. No retraining, no list rewrite, O(forgotten)
    // write. The query then serves top-10 from the folded lists; the
    // oracle builds the index fresh over the RETAINED corpus under
    // the same (full-corpus-trained, frozen) centroids — proving a
    // forgotten vector can never be returned and everything else
    // ranks exactly as a from-scratch index would. At 100 TB this is
    // the only affordable shape: a right-to-be-forgotten request
    // must not rebuild a billion-vector index.
    Q("k23_index_forget",
      "signed retraction of forgotten vectors from the published IVF index == fresh index over retained corpus",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |${lloydCtes(4)},
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |af AS (SELECT vec_id, cid FROM (
           |    SELECT e.vec_id, c.cid,
           |      row_number() OVER (PARTITION BY e.vec_id
           |        ORDER BY ${XSql.dist2("e.v", "c.cv")}, c.cid) AS rn
           |    FROM e, c1 c) WHERE rn = 1),
           |pick AS (SELECT c1.cid FROM c1, q
           |  ORDER BY ${XSql.dist2("q.qv", "c1.cv")}, c1.cid LIMIT 2)
           |SELECT n.vec_id,
           |       1.0 - ${XSql.cosineFromNorms(XSql.dot("n.v", "q.qv"), "n.n2", "q.qn2")} AS dist
           |FROM n JOIN af ON n.vec_id = af.vec_id, q
           |WHERE af.cid IN (SELECT cid FROM pick)
           |  AND n.vec_id != 0 AND n.vec_id % 10 != 7
           |ORDER BY dist, n.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import graft.operators.{KMeans, TableStore}
      val root = Scratch.dir("k23").toString
      val e = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark))).select("vec_id", "v")
      val n = e.withColumn("n2", expr(XSql.norm2("v")))
      // the index predates the forget request: trained and built on
      // the FULL corpus, centroids frozen at publish
      val cents = KMeans.trainLocal(e, 4, LloydRounds)
      TableStore.publishVersion(s, s"$root/centroids", cents,
        note = "ivf-centroids-frozen")
      TableStore.publishFoldSnapshot(s, s"$root/lists",
        KMeans.withAssign(n, cents), note = "build")
      // the forget request: re-derive the forgotten rows under the
      // frozen centroids (bit-identical to the inserted rows) and
      // retract them with one signed delta
      TableStore.publishFoldDelta(s, s"$root/lists",
        KMeans.withAssign(n.filter(col("vec_id") % 10 === 7), cents)
          .withColumn("_mult", lit(-1L)),
        note = "forget")
      // read-only serving path over the folded (post-forget) lists
      val lists = TableStore.readFolded(s, s"$root/lists").drop("_mult")
      val cr = TableStore.readVersion(s, s"$root/centroids")
      val q = lists.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      val pick = cr.crossJoin(broadcast(q))
        .withColumn("d2", expr(XSql.dist2("qv", "cv")))
        .orderBy(col("d2"), col("cid")).limit(2)
        .select("cid")
      lists.join(broadcast(pick), Seq("cid"))
        .crossJoin(broadcast(q))
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id"))
        .limit(10)
    },

    // ---------------------------------------------------------------
    // K24 — ADC from the PUBLISHED compression artifacts: k11's PQ
    // pipeline with training AND encoding hoisted out of the query.
    // Codebooks, per-vector codes, and the rerank vectors are stored
    // tables (publishedPqIndex); the query builds its 1-row distance
    // table from the stored codebooks, ranks candidates by probing
    // the STORED codes (the ~64×-smaller table — the only corpus-
    // sized scan), and reads full vectors for the top-50 rerank rows
    // alone. The oracle re-derives the whole pipeline from scratch
    // (training is deterministic), so the green row proves
    // stored-codes ADC == retrain-and-reencode ADC exactly.
    // PublishedIndexSpec proves the second invocation performs zero
    // publishes and scans only the index tables.
    Q("k24_published_pq",
      "PQ ADC from published codebooks + stored codes (read-only): exact top-10 after rerank",
      {
        implicit val dl: Dialect = SqlDuck
        val (subCtes, codeJoins, adcSum) = pqCtes()
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2 FROM e),
           |q AS (SELECT v AS qv, n2 AS qn2 FROM n WHERE vec_id = 0),
           |$subCtes,
           |adc AS (
           |  SELECT e.vec_id,
           |    $adcSum AS ad2
           |  FROM e
           |  $codeJoins
           |  WHERE e.vec_id != 0
           |  ORDER BY ad2, e.vec_id LIMIT $PqRerank)
           |SELECT adc.vec_id,
           |  1.0 - ${XSql.cosineFromNorms(XSql.dot("f.v", "q.qv"), "f.n2", "q.qn2")} AS dist
           |FROM adc JOIN n f ON adc.vec_id = f.vec_id, q
           |ORDER BY dist, adc.vec_id LIMIT 10""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      import graft.operators.TableStore
      val sub = PqSubDims
      val root = publishedPqIndex(s, d)
      // the ENTIRE query surface below reads the three published
      // tables; nothing below trains or encodes
      val cb = TableStore.readVersion(s, s"$root/codebooks")
      val codes = TableStore.readVersion(s, s"$root/codes")
      val vecs = TableStore.readVersion(s, s"$root/vectors")
      val qRow = vecs.filter(col("vec_id") === 0)
        .select(col("v").as("qv"), col("n2").as("qn2"))
      // normalized query slices (1 row × PqSub) from the stored vector
      val qsl = vecs.filter(col("vec_id") === 0)
        .withColumn("nrm", sqrt(col("n2")))
        .select(expr(SqlSpark.xform("v", "x_", "x_ / nrm")).as("nv"))
        .select(posexplode(array((0 until PqSub).map(i =>
          expr(s"slice(nv, ${i * sub + 1}, $sub)")): _*)))
        .withColumnsRenamed(Map("pos" -> "grp", "col" -> "qv"))
      val dt = cb.join(broadcast(qsl), Seq("grp"))
        .select(col("grp"), col("cid"),
          expr(XSql.dist2("qv", "cv")).as("dterm"))
      // sorted fold in grp order — bit-identical to the oracle's
      // left-associated t0 + t1 + ... sum
      val adc = codes.join(broadcast(dt), Seq("grp", "cid"))
        .filter(col("vec_id") =!= 0)
        .groupBy("vec_id")
        .agg(expr("aggregate(array_sort(collect_list(struct(grp, dterm))), " +
          "cast(0 as double), (a_, s_) -> a_ + s_.dterm)").as("ad2"))
        .orderBy(col("ad2"), col("vec_id")).limit(PqRerank)
      adc.join(vecs, "vec_id").crossJoin(broadcast(qRow))
        .select(col("vec_id"),
          (lit(1.0) - expr(XSql.cosineFromNorms(XSql.dot("v", "qv"), "n2", "qn2")))
            .as("dist"))
        .orderBy(col("dist"), col("vec_id")).limit(10)
    },

    // ---------------------------------------------------------------
    // Margin-based bitext mining (Artetxe & Schwenk, ACL 2019 — the
    // LASER/CCMatrix alignment rule): a candidate pair's score is its
    // cosine RELATIVE to the source vector's neighborhood density
    // (best / avg-of-top-k), which kills the hub vectors that plain
    // cosine thresholds mis-mine. Mined pairs must be MUTUAL best
    // matches. Here side A = even vec_ids, side B = odd (the two
    // "languages"); candidates are label-blocked — the label plays the
    // trained IVF cell (exactly how production margin mining bounds
    // the k-NN: FAISS candidates, margin on candidates, never corpus ×
    // corpus — the d6-adjudicated block). Per-source top-k plans a
    // WindowGroupLimit; the margin denominator sums DECIMAL-cast
    // cosines (order-independent, so both engines' avg is
    // bit-identical) and one double division ends it.
    Q("k25_bitext_margin",
      "margin-scored mutual-best bitext pairs over label-blocked candidates (ratio margin, top-4 neighborhood)",
      {
        implicit val dl: Dialect = SqlDuck
        s"""WITH e AS (SELECT vec_id, label, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, label, v, ${XSql.norm2("v")} AS n2 FROM e),
           |cand AS (
           |  SELECT a.vec_id AS va, b.vec_id AS vb,
           |    ${XSql.cosineFromNorms(XSql.dot("a.v", "b.v"), "a.n2", "b.n2")} AS c
           |  FROM n a JOIN n b ON a.label = b.label
           |  WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1),
           |rk AS (SELECT va, vb, c,
           |         row_number() OVER (PARTITION BY va ORDER BY c DESC, vb) AS rn
           |       FROM cand),
           |agg AS (
           |  SELECT va, max(CASE WHEN rn = 1 THEN vb END) AS best_b,
           |    max(CASE WHEN rn = 1 THEN c END) AS best_c,
           |    (((coalesce(max(CASE WHEN rn = 1 THEN c END), 0.0)
           |      + coalesce(max(CASE WHEN rn = 2 THEN c END), 0.0))
           |      + coalesce(max(CASE WHEN rn = 3 THEN c END), 0.0))
           |      + coalesce(max(CASE WHEN rn = 4 THEN c END), 0.0))
           |      / CAST(count(*) AS DOUBLE) AS denom
           |  FROM rk WHERE rn <= 4 GROUP BY va),
           |rb AS (SELECT vb, va,
           |         row_number() OVER (PARTITION BY vb ORDER BY c DESC, va) AS rn
           |       FROM cand),
           |bb AS (SELECT vb, va AS best_a FROM rb WHERE rn = 1)
           |SELECT agg.va AS vec_a, agg.best_b AS vec_b,
           |       agg.best_c / agg.denom AS margin
           |FROM agg JOIN bb ON bb.vb = agg.best_b AND bb.best_a = agg.va
           |ORDER BY vec_a""".stripMargin
      }) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      implicit val dl: Dialect = SqlSpark
      val n = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .withColumn("n2", expr(XSql.norm2("v")))
        .select("vec_id", "label", "v", "n2")
      val a = n.filter(col("vec_id") % 2 === 0)
        .select(col("label"), col("vec_id").as("va"),
          col("v").as("v_a"), col("n2").as("n2_a"))
      val b = n.filter(col("vec_id") % 2 === 1)
        .select(col("label"), col("vec_id").as("vb"),
          col("v").as("v_b"), col("n2").as("n2_b"))
      val cand = a.join(b, Seq("label"))
        .select(col("va"), col("vb"),
          expr(XSql.cosineFromNorms(
            XSql.dot("v_a", "v_b"), "n2_a", "n2_b")).as("c"))
      val rk = cand.withColumn("rn", row_number().over(
        Window.partitionBy("va").orderBy(col("c").desc, col("vb"))))
      // the ≤4-addend neighborhood mean sums in FIXED rank order
      // (left-fold c1..c4) — a plain sum()'s addend order differs
      // between engines and moves the last ULP
      def pick(i: Int) = coalesce(max(when(col("rn") === i, col("c"))), lit(0.0))
      val agg = rk.filter(col("rn") <= 4)
        .groupBy("va")
        .agg(max(when(col("rn") === 1, col("vb"))).as("best_b"),
          max(when(col("rn") === 1, col("c"))).as("best_c"),
          ((((pick(1) + pick(2)) + pick(3)) + pick(4))
            / count(lit(1)).cast("double")).as("denom"))
      val bb = cand.withColumn("rn", row_number().over(
          Window.partitionBy("vb").orderBy(col("c").desc, col("va"))))
        .filter(col("rn") === 1)
        .select(col("vb"), col("va").as("best_a"))
      agg.join(bb, agg("best_b") === bb("vb") && bb("best_a") === agg("va"))
        .select(col("va").as("vec_a"), col("best_b").as("vec_b"),
          (col("best_c") / col("denom")).as("margin"))
        .orderBy("vec_a")
    },

    // ---------------------------------------------------------------
    // Bitext mining RECALL GATE — k10's audit discipline applied to
    // k25's mining family: mutual-best pairs mined from (a) the
    // single LSH cell and (b) the cell plus its hamming-1 probe ring
    // (k2's multi-probe machinery), each scored against the
    // brute-force mutual-best truth over ALL cross pairs. Recall is
    // PROVABLY monotone here: a truth pair is mutual-GLOBAL-best, so
    // it is mined iff its endpoints are co-candidates — a superset
    // candidate set can only add co-candidacy, never break a truth
    // pair — and the in-query gate requires multi ≥ single on top of
    // the oracle's exact counts. At 100 TB this is the eval that
    // decides the probe budget: the truth tier stays an audit-sample
    // cost (here the corpus IS the sample), the mined tiers stay
    // bucket-blocked, and the recall delta prices each extra probe.
    Q("k26_bitext_recall",
      "mined-pair recall of single-cell vs hamming-1 multi-probe bitext mining vs brute-force mutual-best truth",
      {
        implicit val dl: Dialect = SqlDuck
        val cosAb = XSql.cosineFromNorms(
          XSql.dot("a.v_a", "b.v_b"), "a.n2_a", "b.n2_b")
        val probeCond = (Seq("b.bb = a.ba") ++
          (0 until Planes).map(p => s"b.bb = xor(a.ba, ${1L << p})"))
          .mkString("(", " OR ", ")")
        def mb(src: String, out: String) =
          s"""${out}_b AS (SELECT va, vb FROM (
             |  SELECT va, vb, row_number() OVER (PARTITION BY va
             |    ORDER BY c DESC, vb) AS rn FROM $src) WHERE rn = 1),
             |${out}_a AS (SELECT vb, va AS best_a FROM (
             |  SELECT vb, va, row_number() OVER (PARTITION BY vb
             |    ORDER BY c DESC, va) AS rn FROM $src) WHERE rn = 1),
             |$out AS (SELECT x.va, x.vb FROM ${out}_b x
             |  JOIN ${out}_a y ON y.vb = x.vb AND y.best_a = x.va)""".stripMargin
        def rep(name: String, mined: String) =
          s"""SELECT '$name' AS method,
             |  (SELECT count(*) FROM truth) AS n_truth,
             |  (SELECT count(*) FROM $mined) AS n_mined,
             |  (SELECT count(*) FROM truth JOIN $mined USING (va, vb)) AS n_overlap,
             |  CAST((SELECT count(*) FROM truth JOIN $mined USING (va, vb)) AS DOUBLE)
             |    / (SELECT count(*) FROM truth) AS recall""".stripMargin
        s"""WITH e AS (SELECT vec_id, ${vDouble(SqlDuck)} AS v FROM embeddings),
           |n AS (SELECT vec_id, v, ${XSql.norm2("v")} AS n2,
           |             ${lshBucket("v")} AS bucket FROM e),
           |a AS (SELECT vec_id AS va, v AS v_a, n2 AS n2_a, bucket AS ba
           |      FROM n WHERE vec_id % 2 = 0),
           |b AS (SELECT vec_id AS vb, v AS v_b, n2 AS n2_b, bucket AS bb
           |      FROM n WHERE vec_id % 2 = 1),
           |call AS (SELECT va, vb, $cosAb AS c FROM a, b),
           |${mb("call", "truth")},
           |c1 AS (SELECT va, vb, $cosAb AS c FROM a JOIN b ON b.bb = a.ba),
           |${mb("c1", "m1")},
           |cm AS (SELECT va, vb, $cosAb AS c FROM a JOIN b ON $probeCond),
           |${mb("cm", "mm")}
           |${rep("multi_probe", "mm")}
           |UNION ALL
           |${rep("single_cell", "m1")}
           |ORDER BY method""".stripMargin
      }) { (s, d) =>
      implicit val dl: Dialect = SqlSpark
      graft.functions.GraftFunctions.register(s)
      // the audit's corpus sample, cached: the two sides feed five
      // downstream legs (truth cross, two block joins, three
      // broadcasts) and each would otherwise re-run scan + bucket
      val n = t(s, d, "embeddings")
        .withColumn("v", expr(vDouble(SqlSpark)))
        .withColumn("bucket", expr(lshBucket("v")))
        .select("vec_id", "v", "bucket")
        .cache()
      val a = n.filter(col("vec_id") % 2 === 0).select(
        col("vec_id").as("va"), col("v").as("v_a"), col("bucket").as("ba"))
      val b = n.filter(col("vec_id") % 2 === 1).select(
        col("vec_id").as("vb"), col("v").as("v_b"), col("bucket").as("bb"))
      // the native codegen'd loop, not the lambda fold: the truth
      // tier evaluates a million pair cosines, and k4's gate already
      // pins 1 - vector_distance == the oracle's cosineFromNorms
      // bit-exactly
      val cosC = (lit(1.0) -
        expr("vector_distance(v_a, v_b, 'COSINE')")).as("c")
      // per-side best as max_by over a (c, -id) struct — identical
      // order semantics to the oracle's row_number (c DESC, id ASC;
      // the struct is unique per candidate so ties cannot happen) but
      // PARTIALLY AGGREGABLE: the million-pair truth tier shuffles
      // one partial row per group instead of windowing the full
      // pair frame
      def mutualBest(cand: org.apache.spark.sql.DataFrame) = {
        val bestB = cand.groupBy("va").agg(expr(
          "max_by(vb, struct(c, -vb))").as("vb"))
        val bestA = cand.groupBy("vb").agg(expr(
          "max_by(va, struct(c, -va))").as("best_a"))
        bestB.join(bestA, "vb").filter(col("best_a") === col("va"))
          .select("va", "vb")
      }
      // truth: one deliberate broadcast cross (the audit tier — the
      // side is bounded; at scale this is the sampled-source tier).
      // The stream side is REPARTITIONED first: a BNLJ inherits its
      // probe side's partitioning, and the embeddings parquet is a
      // couple of files — without the spread, a million scored pairs
      // evaluate on two cores. The scored frame is cached: BOTH
      // per-side best aggregates read it, and re-deriving it would
      // double the million-cosine work
      val truthCand = a.repartition(32).crossJoin(broadcast(b))
        .select(col("va"), col("vb"), cosC).cache()
      val truth = mutualBest(truthCand).cache()
      // mined tiers: bucket-blocked equi-joins, never corpus × corpus
      val cand1 = a.join(b, col("ba") === col("bb"))
        .select(col("va"), col("vb"), cosC)
      val probes = a.withColumn("pb", explode(array(
        Seq(col("ba")) ++
          (0 until Planes).map(p => col("ba").bitwiseXOR(lit(1L << p))): _*)))
      val candM = probes.join(b, col("pb") === col("bb"))
        .select(col("va"), col("vb"), cosC)
      def rep(name: String, cand0: org.apache.spark.sql.DataFrame) = {
        // both per-side best aggregates read the candidate frame —
        // cached, or each tier re-derives its block join twice
        val cand = cand0.cache()
        val mined = mutualBest(cand).cache()
        mined.agg(count(lit(1)).as("n_mined"))
          .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
          .crossJoin(broadcast(mined.join(truth, Seq("va", "vb"))
            .agg(count(lit(1)).as("n_overlap"))))
          .select(lit(name).as("method"), col("n_truth"), col("n_mined"),
            col("n_overlap"),
            (col("n_overlap").cast("double") / col("n_truth").cast("double"))
              .as("recall"))
      }
      val out = rep("multi_probe", candM)
        .unionByName(rep("single_cell", cand1))
        .orderBy("method").cache()
      // loud monotonicity gate on top of the oracle's exact counts
      val recalls = out.collect()
        .map(r => r.getAs[String]("method") -> r.getAs[Double]("recall")).toMap
      require(recalls("multi_probe") >= recalls("single_cell"),
        s"k26: multi-probe recall ${recalls("multi_probe")} below " +
          s"single-cell ${recalls("single_cell")}")
      out
    }
  )
}
