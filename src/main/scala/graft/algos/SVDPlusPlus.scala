package graft.algos

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.runtime.{AdaptivePartitions, Storage}

/** SVD++ collaborative filtering (Koren, KDD'08 §5) on a bipartite
  * user→item rating graph — the reference's `lib.SVDPlusPlus`
  * (spark-graphx 4.1.2; SURVEY.md §2.4), re-expressed as Dataset joins
  * with builtin higher-order array functions (`zip_with`, `transform`,
  * `aggregate`) — no UDFs, no RDDs.
  *
  * Semantics mirror the reference exactly, per-superstep:
  *   - vertex state (factor, factor2, bias, norm): factor is p (users) /
  *     q (items); factor2 is p̃ = p + |N(u)|^-½·Σy (users, recomputed each
  *     iteration) / y (items); bias b_v; norm = |N(v)|^-½ (replaced by the
  *     training-error sum on message receivers in the final pass);
  *   - init: bias = (Σ incident ratings)/deg − μ, norm = deg^-½, and ONE
  *     shared factor pair for every vertex — the reference evaluates its
  *     random `defaultF(rank)` once as `fromEdges`' default value, so all
  *     vertices start identical; we take the draw from a SEEDED generator
  *     (the reference's only delta: it uses the unseeded global Random,
  *     which is why its own output is irreproducible run-to-run);
  *   - per iteration: phase 1 recomputes p̃ for vertices with out-edges;
  *     phase 2 does one SGD step per edge — pred = clamp(μ + b_u + b_i +
  *     q·p̃), err = r − pred, with the reference's exact update/merge
  *     algebra (γ1/γ2 learning rates, γ6/γ7 regularization), updates
  *     summed per vertex and applied once (synchronous, not Hogwild);
  *   - final pass: Σ err² per item replaces its norm slot.
  *
  * Deliberate delta, documented: the reference's phase-2 MERGE function
  * is broken in its y-update slot — decompiled 4.1.2 bytecode
  * (`$anonfun$run$15`) computes `g2._2 + g2._2`, i.e. twice ONE operand,
  * dropping the other entirely — so for any vertex receiving >1 message
  * the reference's applied y-update is 2× whichever message its
  * (partition-order-dependent) reduce happened to end on: nondeterministic
  * run-to-run. Demonstrated empirically in SVDPlusPlusSpec ("the jar's
  * y-merge doubles ONE message"): on a two-rating user the jar's y equals
  * p̃ + 2·(one message), never the sum. The p and bias slots merge
  * correctly (verified: they match the jar exactly under a pinned init).
  * We implement the specified sum —
  * what the paper and the reference's own update formulas intend — which
  * equals the reference exactly wherever its bug can't fire (vertices
  * with one incident edge; see the degree-1 differential test).
  *
  * Scale shape: every phase is edges ⋈ vertex-state (shuffled-hash, the
  * state never exceeds |V| rows) followed by a posexplode → partial-agg
  * array sum, so shuffle volume is bounded by rank·|V|·partitions per
  * phase, never rank·|E|; state rotates through localCheckpoint
  * (StateRotator) so plans stay flat across iterations.
  */
object SVDPlusPlus {

  final case class Conf(
      rank: Int = 10,
      maxIters: Int = 2,
      minVal: Double = 0.0,
      maxVal: Double = 5.0,
      gamma1: Double = 0.007,
      gamma2: Double = 0.007,
      gamma6: Double = 0.005,
      gamma7: Double = 0.015)

  /** `edges`: (src, dst, rating). Returns (vertex state, μ) where state =
    * (id, factor, factor2, bias, norm) as documented above.
    * `initFactors`: the shared initial (factor, factor2) pair; defaults to
    * the seeded equivalent of the reference's one-time random draw.
    * @note the returned frame is PERSISTED and the caller owns it: see
    *       `runtime.Storage`'s ownership contract. */
  def run(edges: DataFrame, conf: Conf = Conf(), seed: Long = 0L,
      initFactors: Option[(Array[Double], Array[Double])] = None,
      numPartitions: Int = 0): (DataFrame, Double) = Storage.scope { s =>
    require(conf.maxVal > conf.minVal, "maxVal must be > minVal")
    val spark = edges.sparkSession
    val (v1, v2) = initFactors.getOrElse {
      val rnd = new scala.util.Random(seed)
      (Array.fill(conf.rank)(rnd.nextDouble()),
        Array.fill(conf.rank)(rnd.nextDouble()))
    }
    require(v1.length == conf.rank && v2.length == conf.rank,
      s"initFactors must have rank ${conf.rank}")

    val e = s.input(edges, col("src"), col("dst"),
      col("rating").cast("double").as("rating"))
    // one action materializes the cache AND yields |E| + μ (was two)
    val r0 = e.agg(sum("rating"), count(lit(1))).first()
    val eRows = r0.getLong(1)
    require(eRows > 0, "SVD++ needs at least one rating edge")
    val p = AdaptivePartitions.forRows(spark, eRows, numPartitions)
    val u = r0.getDouble(0) / eRows // μ = global mean rating

    // init: deg/bias from BOTH directions (reference t0 sends to src+dst)
    val incident = e.select(col("src").as("id"), col("rating"))
      .union(e.select(col("dst").as("id"), col("rating")))
    val rotator = s.rotator(None, "svdpp")
    var state = rotator.adopt(incident.groupBy("id")
      .agg(count(lit(1)).as("deg"), sum("rating").as("rsum"))
      .select(col("id"),
        array(v1.toSeq.map(lit): _*).as("factor"),
        array(v2.toSeq.map(lit): _*).as("factor2"),
        (col("rsum") / col("deg") - u).as("bias"),
        (lit(1.0) / sqrt(col("deg"))).as("norm"))
      .coalesce(p))
    var step = 0

    // elementwise array-sum per vertex via the NATIVE VectorSum aggregate
    // (ObjectHashAggregate with map-side partial combine — rank-length
    // buffers, so shuffle volume stays rank·|V|·partitions): the r5 shape
    // posexploded rank·|E| rows through a (vid, pos) aggregation, a second
    // (vid) collect_list + sort, and an extra exchange per phase
    def arraySumAgg(rows: DataFrame, vid: Column, arr: Column,
        outName: String): DataFrame =
      rows.select(vid.as("vid"), arr.as("__v"))
        .groupBy("vid")
        .agg(org.apache.spark.sql.graftvec.VectorExpressions
          .vectorSum(col("__v")).as(outName))

    for (_ <- 1 to conf.maxIters) {
      // ---- phase 1: p̃ = p + norm·Σ_{out-edges} y(dst) for senders' srcs
      val dstY = state.select(col("id").as("did"), col("factor2").as("dy"))
      val t1 = arraySumAgg(
        e.join(dstY.hint("SHUFFLE_HASH"), e("dst") === col("did")),
        col("src"), col("dy"), "ysum")
      val s1 = state.join(t1.hint("SHUFFLE_HASH"), state("id") === t1("vid"), "left")
        .select(col("id"), col("factor"),
          when(col("ysum").isNotNull,
            zip_with(col("factor"), col("ysum"), (a, b) => a + col("norm") * b))
            .otherwise(col("factor2")).as("factor2"),
          col("bias"), col("norm"))
      step += 1
      state = rotator.rotate(s1.coalesce(p), step)

      // ---- phase 2: one synchronous SGD step over all edges
      val su = state.select(col("id").as("uid"), col("factor").as("up"),
        col("factor2").as("ut"), col("bias").as("ub"), col("norm").as("un"))
      val si = state.select(col("id").as("iid"), col("factor").as("iq"),
        col("factor2").as("iy"), col("bias").as("ib"))
      val et = e
        .join(su.hint("SHUFFLE_HASH"), e("src") === col("uid"))
        .join(si.hint("SHUFFLE_HASH"), e("dst") === col("iid"))
      val pred = clamp(lit(u) + col("ub") + col("ib") +
        dot(col("iq"), col("ut")), conf.minVal, conf.maxVal)
      val withErr = et.select(col("src"), col("dst"), col("up"), col("ut"),
        col("un"), col("ub"), col("iq"), col("iy"), col("ib"),
        (col("rating") - pred).as("err"))
      // reference sendMsgTrainF algebra, verbatim:
      //   updateP = (err·q)·γ2 − (γ7·γ2)·p          → src factor
      //   updateQ = (err·p̃)·γ2 − (γ7·γ2)·q          → dst factor
      //   updateY = (err·norm_u·q)·γ2 − (γ7·γ2)·y_i → BOTH factor2 slots
      //   bias    = (err − γ6·b_v)·γ1 per endpoint
      val g2 = conf.gamma2
      val updP = zip_with(col("iq"), col("up"),
        (q, pp) => col("err") * q * g2 - lit(conf.gamma7 * g2) * pp)
      val updQ = zip_with(col("ut"), col("iq"),
        (t, q) => col("err") * t * g2 - lit(conf.gamma7 * g2) * q)
      val updY = zip_with(col("iq"), col("iy"),
        (q, y) => col("err") * col("un") * q * g2 - lit(conf.gamma7 * g2) * y)
      // ONE pass over the joined triplet stream, both endpoint messages
      // from a single explode — the AggregateMessages single-pass shape:
      // a union of two selects over `withErr` would re-execute the
      // edges ⋈ state ⋈ state join subtree once per direction
      val msgs = withErr.select(explode(array(
          struct(col("src").as("vid"), updP.as("a1"), updY.as("a2"),
            ((col("err") - lit(conf.gamma6) * col("ub")) * conf.gamma1).as("b")),
          struct(col("dst").as("vid"), updQ.as("a1"), updY.as("a2"),
            ((col("err") - lit(conf.gamma6) * col("ib")) * conf.gamma1).as("b")))).as("m"))
        .select(col("m.vid").as("vid"), col("m.a1").as("a1"),
          col("m.a2").as("a2"), col("m.b").as("b"))
      // both factor-delta arrays AND the bias delta in ONE aggregation
      // pass + ONE state join (native VectorSum — see arraySumAgg; a
      // separate bias aggregation re-executed the whole message subtree
      // and cost a second |V|-row join)
      val vsum = org.apache.spark.sql.graftvec.VectorExpressions.vectorSum _
      val arrSums = msgs.groupBy("vid").agg(
        vsum(col("a1")).as("d1"), vsum(col("a2")).as("d2"),
        sum(col("b")).as("db"))
      val s2 = state
        .join(arrSums.hint("SHUFFLE_HASH"), state("id") === arrSums("vid"), "left")
        .select(col("id"),
          when(col("d1").isNotNull,
            zip_with(col("factor"), col("d1"), (a, b) => a + b))
            .otherwise(col("factor")).as("factor"),
          when(col("d2").isNotNull,
            zip_with(col("factor2"), col("d2"), (a, b) => a + b))
            .otherwise(col("factor2")).as("factor2"),
          (col("bias") + coalesce(col("db"), lit(0.0))).as("bias"),
          col("norm"))
      step += 1
      state = rotator.rotate(s2.coalesce(p), step)
    }

    // ---- final pass: Σ err² per dst replaces the norm slot (reference t3)
    val su = state.select(col("id").as("uid"), col("factor2").as("ut"),
      col("bias").as("ub"))
    val si = state.select(col("id").as("iid"), col("factor").as("iq"),
      col("bias").as("ib"))
    val predF = clamp(lit(u) + col("ub") + col("ib") +
      dot(col("iq"), col("ut")), conf.minVal, conf.maxVal)
    val errs = e
      .join(su.hint("SHUFFLE_HASH"), e("src") === col("uid"))
      .join(si.hint("SHUFFLE_HASH"), e("dst") === col("iid"))
      .select(col("dst").as("vid"),
        ((col("rating") - predF) * (col("rating") - predF)).as("se"))
      .groupBy("vid").agg(sum("se").as("errsum"))
    val out = s.result(state.join(errs.hint("SHUFFLE_HASH"), state("id") === errs("vid"), "left")
      .select(col("id"), col("factor"), col("factor2"), col("bias"),
        coalesce(col("errsum"), col("norm")).as("norm")))
    rotator.close()
    (out, u)
  }

  /** Training RMSE of `state`'s model over `edges`: √(Σ err²/|edges|),
    * predictions clamped like training. */
  def rmse(edges: DataFrame, state: DataFrame, conf: Conf, u: Double): Double = {
    val su = state.select(col("id").as("uid"), col("factor2").as("ut"),
      col("bias").as("ub"))
    val si = state.select(col("id").as("iid"), col("factor").as("iq"),
      col("bias").as("ib"))
    val pred = clamp(lit(u) + col("ub") + col("ib") +
      dot(col("iq"), col("ut")), conf.minVal, conf.maxVal)
    val r = edges
      .join(su, edges("src") === col("uid"))
      .join(si, edges("dst") === col("iid"))
      .select(((col("rating") - pred) * (col("rating") - pred)).as("se"))
      .agg(sum("se"), count(lit(1))).first()
    // loud guard instead of getDouble's opaque "value at index 0 is null":
    // zero matched pairs (empty edges, or a holdout disjoint from the
    // trained state's ids) makes RMSE undefined
    require(r.getLong(1) > 0,
      "rmse: no (src, dst) pair of `edges` matched the model state's ids — " +
        "RMSE is undefined over zero predictions")
    math.sqrt(r.getDouble(0) / r.getLong(1))
  }

  private def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def clamp(c: Column, lo: Double, hi: Double): Column =
    least(greatest(c, lit(lo)), lit(hi))
}
