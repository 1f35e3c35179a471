package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.runtime.{CheckpointConfig, Checkpoints, Storage}

/** Which vertex attributes the message expressions read — the relational
  * analog of the reference's `TripletFields` (spark-graphx 4.1.2
  * `TripletFields.{None,Src,Dst,All}`, the pruning hint `aggregateMessages`
  * takes so un-read vertex attrs are never shipped to edge partitions).
  * Here the pruning is structural: the triplet view only JOINS the
  * attribute sides that are declared, so a src-only messaging round never
  * pays the dst-attribute join at all.
  */
final case class TripletFields(useSrc: Boolean, useDst: Boolean)

object TripletFields {
  val None: TripletFields = TripletFields(useSrc = false, useDst = false)
  val Src: TripletFields = TripletFields(useSrc = true, useDst = false)
  val Dst: TripletFields = TripletFields(useSrc = false, useDst = true)
  val All: TripletFields = TripletFields(useSrc = true, useDst = true)
}

/** The reference's core user-facing primitive — `Graph.aggregateMessages`
  * (spark-graphx 4.1.2 `Graph.aggregateMessages[Msg](sendMsg, mergeMsg,
  * tripletFields)`; SURVEY.md §2.3 row 1) — as a public, generic
  * relational combinator. Messages are Column EXPRESSIONS over triplet
  * columns (a NULL message is "not sent"), and the merge function is what
  * it really is — an aggregation over recipients — so Catalyst gives
  * map-side partial combining, column pruning and codegen for free, where
  * the reference hand-rolls them per edge partition.
  *
  * Execution shape (the 100 TB story): vertex state (≤|V| rows) joins the
  * CACHED hash-partitioned adjacency blocks (shuffled-hash; the |E|-sized
  * side never moves), `explode` streams the per-edge message rows through
  * one codegen'd stage into a partially-aggregated groupBy on recipient —
  * the same vertex-shipping + per-partition combine the reference's
  * ReplicatedVertexView + edge-partition scan performs, expressed
  * declaratively. A dst-attrs-only round with src recipients uses the
  * cached REVERSE adjacency instead — that direction's attr join stays
  * |V|-row-sized. The one shape that pays a post-explode (|E|-row-probe)
  * attr join is a toDst round reading DST attrs: the forward triplet
  * view guarantees `src_degree` and a pre-explode sender semi-join, both
  * of which reverse blocks cannot provide for that direction (no engine
  * algorithm uses this shape; the probe side still never moves the
  * cached blocks). Both-direction rounds evaluate the triplet
  * view ONCE and emit both messages from a single explode — the
  * reference's one-edge-partition-scan-both-sends, where the r3 shape
  * (two selects UNIONed over the triplet frame) re-executed the
  * join/explode subtree per direction.
  */
object AggregateMessages {

  /** Triplet view of `(g, vertices)`: one row per directed edge with
    * columns `src`, `dst`, `src_degree` (out-degree of the source — free
    * from the adjacency block, the analog of the degree-joined graphs the
    * reference's algorithms build), plus `src_<a>` / `dst_<a>` for every
    * non-id column `a` of `vertices`, pruned by `fields`. */
  def triplets(g: PreparedGraph, vertices: DataFrame,
      fields: TripletFields = TripletFields.All): DataFrame =
    tripletsFrom(g, vertices, vertices, fields,
      srcRestricted = false, dstRestricted = false)

  /** Triplet view with independent attr providers per side — the hook the
    * Pregel active-set needs: restricting the SOURCE side to active
    * vertices while recipients keep full attrs is `EdgeDirection.Out`,
    * and vice versa. `xRestricted` marks the provider as an active-set
    * RESTRICTION rather than the full universe: when `fields` reads the
    * side the inner attr join enforces it for free; when it does NOT, an
    * id-only semi-join enforces it anyway — a TripletFields choice must
    * prune attribute SHIPPING, never silently widen the active set
    * (ADVICE r3: toDst + TripletFields.None previously let every vertex
    * send). */
  private def tripletsFrom(g: PreparedGraph, srcVertices: DataFrame,
      dstVertices: DataFrame, fields: TripletFields,
      srcRestricted: Boolean, dstRestricted: Boolean): DataFrame = {
    // a state column named "degree" would alias to src_degree and collide
    // with the triplet view's own src_degree (out-degree from the block):
    // fail actionably instead of with AnalysisException at first use
    require(!fields.useSrc || !srcVertices.columns.contains("degree"),
      "vertex attr column 'degree' collides with the triplet view's " +
        "src_degree; rename the state column")
    var t: DataFrame = g.adjacency
    if (fields.useSrc) {
      val attrs = srcVertices.columns.filter(_ != "id").toSeq
      val v = srcVertices.select(
        col("id").as("__sid") +: attrs.map(a => col(a).as(s"src_$a")): _*)
      t = t.join(v.hint("SHUFFLE_HASH"), t("src") === col("__sid")).drop("__sid")
    } else if (srcRestricted) {
      val ids = srcVertices.select(col("id").as("__sid"))
      t = t.join(ids.hint("SHUFFLE_HASH"), t("src") === col("__sid"), "left_semi")
    }
    val srcAttrs =
      if (fields.useSrc) srcVertices.columns.filter(_ != "id").toSeq else Nil
    val keep = Seq(col("src"), col("degree").as("src_degree")) ++
      srcAttrs.map(a => col(s"src_$a"))
    t = t.select(keep :+ explode(col("dsts")).as("dst"): _*)
    if (fields.useDst) {
      val attrs = dstVertices.columns.filter(_ != "id").toSeq
      val v = dstVertices.select(
        col("id").as("__did") +: attrs.map(a => col(a).as(s"dst_$a")): _*)
      t = t.join(v.hint("SHUFFLE_HASH"), t("dst") === col("__did")).drop("__did")
    } else if (dstRestricted) {
      val ids = dstVertices.select(col("id").as("__did"))
      t = t.join(ids.hint("SHUFFLE_HASH"), t("dst") === col("__did"), "left_semi")
    }
    t
  }

  /** Reverse-adjacency triplet view — columns `src`, `dst`, `dst_in_degree`
    * and `dst_<a>`: the efficient plan for src-recipient messages that read
    * only dst attrs (ShortestPaths' shape — data flows against the edges):
    * a |V|-row join against the cached reverse blocks + explode, never an
    * |E|-row join. `dstRestricted` as in [[tripletsFrom]]: an active-set
    * provider is enforced by semi-join even when its attrs aren't read. */
  private def reverseTriplets(g: PreparedGraph, vertices: DataFrame,
      fields: TripletFields, dstRestricted: Boolean): DataFrame = {
    require(!fields.useDst || !vertices.columns.contains("in_degree"),
      "vertex attr column 'in_degree' collides with the reverse triplet " +
        "view's dst_in_degree; rename the state column")
    val attrs = vertices.columns.filter(_ != "id").toSeq
    var t: DataFrame = g.reverseAdjacency
    if (fields.useDst) {
      val v = vertices.select(
        col("id").as("__did") +: attrs.map(a => col(a).as(s"dst_$a")): _*)
      t = t.join(v.hint("SHUFFLE_HASH"), t("dst") === col("__did")).drop("__did")
    } else if (dstRestricted) {
      val ids = vertices.select(col("id").as("__did"))
      t = t.join(ids.hint("SHUFFLE_HASH"), t("dst") === col("__did"), "left_semi")
    }
    val keep = Seq(col("dst"), col("in_degree").as("dst_in_degree")) ++
      (if (fields.useDst) attrs.map(a => col(s"dst_$a")) else Nil)
    t.select(keep :+ explode(col("srcs")).as("src"): _*)
  }

  /** One messaging round.
    *
    * @param g        prepared graph (cached adjacency; reverse blocks are
    *                 built lazily when a toSrc-only round needs them)
    * @param vertices per-vertex attrs (id + attr columns) the triplet view
    *                 exposes as `src_<a>` / `dst_<a>`
    * @param toDst    message delivered to each triplet's dst — an
    *                 expression over the triplet columns; NULL = not sent
    *                 (the analog of a `sendMsg` that doesn't emit)
    * @param toSrc    same, delivered to the triplet's src. When BOTH
    *                 directions are set the two message expressions must
    *                 share one type (they merge into a single `msg`
    *                 column) and are emitted from ONE triplet pass.
    * @param merge    aggregate columns over the message column `msg`,
    *                 e.g. `Seq(sum("msg").as("m"))` — the commutative/
    *                 associative mergeMsg, map-side combined by Catalyst
    * @param fields   which vertex attrs the messages read (join pruning)
    * @return (id, merged columns) for vertices that received ≥1 message —
    *         reference semantics (`aggregateMessages`' VertexRDD contains
    *         only messaged vertices)
    */
  def run(g: PreparedGraph, vertices: DataFrame,
      toDst: Option[Column], toSrc: Option[Column], merge: Seq[Column],
      fields: TripletFields = TripletFields.All): DataFrame = {
    require(merge.nonEmpty, "at least one merge aggregate is required")
    rawMessages(g, vertices, scala.None, toDst, toSrc, fields)
      .groupBy("id").agg(merge.head, merge.tail: _*)
  }

  /** Un-aggregated (id, msg) message stream. `senders` (when set)
    * restricts which vertices ORIGINATE messages — the originator of a
    * toDst message is the triplet's src, of a toSrc message the dst
    * (reference EdgeDirection.Out / In / Either active-set semantics);
    * recipient/non-originator attrs always come from the full `state`.
    * Restriction is enforced on EVERY TripletFields configuration: via
    * the attr join when the originating side's attrs are read, an
    * id-only semi-join when not, and per-side activity FLAGS in the
    * single-pass both-direction plan (where the recipients' side can't
    * be inner-joined away). */
  private[graph] def rawMessages(g: PreparedGraph, state: DataFrame,
      senders: Option[DataFrame], toDst: Option[Column], toSrc: Option[Column],
      fields: TripletFields): DataFrame = {
    require(toDst.isDefined || toSrc.isDefined,
      "at least one of toDst / toSrc is required")
    (toDst, toSrc) match {
      case (Some(mD), scala.None) =>
        val (srcV, srcR) = senders.map((_, true)).getOrElse((state, false))
        tripletsFrom(g, srcV, state, fields, srcR, dstRestricted = false)
          .select(col("dst").as("id"), mD.as("msg"))
          .filter(col("msg").isNotNull)
      case (scala.None, Some(mS)) =>
        val (dstV, dstR) = senders.map((_, true)).getOrElse((state, false))
        val t =
          if (!fields.useSrc) reverseTriplets(g, dstV, fields, dstR)
          else tripletsFrom(g, state, dstV, fields, srcRestricted = false,
            dstRestricted = dstR)
        t.select(col("src").as("id"), mS.as("msg"))
          .filter(col("msg").isNotNull)
      case (Some(mD0), Some(mS0)) =>
        // single-pass both directions: ONE triplet evaluation, both
        // messages from one explode (VERDICT r3 next #3 — the r3 UNION
        // re-executed the join/explode subtree per direction). Attrs come
        // from the full state (recipients read it), so an active set is
        // enforced with per-side boolean flags from id-only left joins.
        var t = tripletsFrom(g, state, state, fields,
          srcRestricted = false, dstRestricted = false)
        val (mD, mS) = senders match {
          case Some(snd) =>
            val sIds = snd.select(col("id").as("__sa"), lit(true).as("__src_active"))
            val dIds = snd.select(col("id").as("__da"), lit(true).as("__dst_active"))
            t = t.join(sIds.hint("SHUFFLE_HASH"), t("src") === col("__sa"), "left")
              .drop("__sa")
            t = t.join(dIds.hint("SHUFFLE_HASH"), t("dst") === col("__da"), "left")
              .drop("__da")
            (when(col("__src_active"), mD0), when(col("__dst_active"), mS0))
          case scala.None => (mD0, mS0)
        }
        t.select(explode(array(
            struct(col("dst").as("id"), mD.as("msg")),
            struct(col("src").as("id"), mS.as("msg")))).as("e"))
          .select(col("e.id").as("id"), col("e.msg").as("msg"))
          .filter(col("msg").isNotNull)
      case (scala.None, scala.None) =>
        throw new AssertionError("unreachable: guarded by require above")
    }
  }
}

/** The reference's `Pregel.apply` (spark-graphx 4.1.2 `Pregel$`; SURVEY.md
  * §2.4 row 1) as a relational driver loop: synchronous supersteps of
  * [[AggregateMessages.run]] + a vertex program, with per-superstep state
  * rotation (plan/lineage truncation + storage release —
  * `runtime.StateRotator`, the engine's `PeriodicGraphCheckpointer`),
  * optional durable checkpoints, and halting on an empty active set —
  * counted by a ROOT-LEVEL `observe` fired by the rotation's own
  * materialization (`StateRotator.step`), so the halt check costs no
  * extra job; if the metric doesn't surface the same count is aggregated
  * over the already-materialized state (an in-memory |V|-row scan).
  * Mid-plan observations remain unreliable (any containing
  * QueryExecution that completes without the metric resolves the
  * observation to an empty row) — only the root of the rotated plan is
  * observed here.
  *
  * Custom iterative computations (belief propagation, degree-capped BFS,
  * …) assemble from expressions; every engine algorithm's superstep shape
  * (cached adjacency ⋈ shrinking state, partial-agg message combine,
  * rotation hygiene) comes built in.
  */
object Pregel {

  final case class Config(
      maxIter: Int = Int.MaxValue,
      fields: TripletFields = TripletFields.All,
      /** Predicate over STATE columns selecting which vertices ORIGINATE
        * messages this superstep — the reference's active-set
        * (`aggregateMessagesWithActiveSet` + `activeDirection`). The
        * originator of a toDst message is the triplet's src (restricting
        * it = `EdgeDirection.Out`); of a toSrc message, the dst (= `In`);
        * with both directions each stream is restricted on its own
        * originator side (= `Either`). Recipient-side attrs always come
        * from the FULL state. None = every vertex sends (NULL messages
        * still unsent). */
      sendersPred: Option[Column] = scala.None,
      /** Halt when no state row satisfies this predicate, counted by the
        * rotation-fused root-level observe (fallback: an in-memory
        * |V|-row aggregate — never a re-execution of the messaging
        * job). Defaults to `sendersPred` (no senders ⇒ no further
        * messages ⇒ fixed point — the reference's zero-messages halt, one
        * superstep earlier). When neither is set the loop must be bounded
        * by `maxIter`. */
      haltPred: Option[Column] = scala.None,
      numPartitions: Int = 0,
      checkpoint: Option[CheckpointConfig] = scala.None,
      resume: Boolean = false,
      /** Checkpoint log/state namespace (distinguishes concurrent loops). */
      algo: String = "pregel")

  /** Iterate until a superstep produces zero messages (or `maxIter`).
    *
    * @param init  initial per-vertex state (id + attr columns). The
    *              reference's `initialMsg` round is just an expression
    *              over the initial state — apply it here.
    * @param toDst / toSrc / merge / fields — see [[AggregateMessages.run]]
    * @param vprog (state, msgs) ⇒ next state (id + same attr columns):
    *              `msgs` holds (id, merged columns) ONLY for messaged
    *              vertices; the usual shape is a left join + per-column
    *              update so unmessaged vertices keep their state.
    *              CAUTION: when an output alias shadows an input column
    *              name, reference the OLD value dataframe-qualified
    *              (`state("x")`) inside higher-order-function lambdas — a
    *              bare `col("x")` there is captured by lateral-column-
    *              alias resolution and rebinds to the new sibling alias.
    * @return the final state frame (materialized; its storage lives until
    *         the session drops it, as with every engine algorithm)
    */
  def iterate(g: PreparedGraph, init: DataFrame,
      toDst: Option[Column], toSrc: Option[Column], merge: Seq[Column],
      vprog: (DataFrame, DataFrame) => DataFrame,
      cfg: Config = Config()): DataFrame = Storage.scope { s =>
    require(toDst.isDefined || toSrc.isDefined,
      "at least one of toDst / toSrc is required")
    require(merge.nonEmpty, "at least one merge aggregate is required")
    val halt = cfg.haltPred.orElse(cfg.sendersPred)
    require(halt.isDefined || cfg.maxIter != Int.MaxValue,
      "unbounded Pregel loop: set sendersPred/haltPred or a finite maxIter")
    val rotator = s.rotator(cfg.checkpoint, cfg.algo)
    val p = if (cfg.numPartitions > 0) cfg.numPartitions else g.numPartitions
    def active(row: org.apache.spark.sql.Row): Long = if (halt.isDefined) row.getLong(0) else 1L
    // input-identity drift guard: the user's vprog/merge closures cannot
    // be fingerprinted, but the input GRAPH can — a resume against the
    // same dir/runId with different edges fails loudly instead of mixing
    // stale state into a new graph (one cheap aggregate over the cached
    // adjacency, only when checkpointing)
    val state = rotator.loop(g.spark, Checkpoints.inputSignature(g.edges), cfg.resume) { resumed =>
      var (step, state) = resumed.getOrElse((0, rotator.adopt(init)))
      var n = halt.map(h => state.filter(h).count()).getOrElse(1L)
      while (n > 0 && step < cfg.maxIter) {
        step += 1
        // the halt count rides the rotation's own root-level observe
        // (VERDICT r3 next #4): zero extra jobs per superstep
        val (next, row) = rotator.step(step, halt.map(h => count(when(h, 1)).as("active")).toSeq,
            active) {
          val senders = cfg.sendersPred.map(state.filter)
          val raw = AggregateMessages.rawMessages(g, state, senders, toDst, toSrc, cfg.fields)
          val msgs = raw.groupBy("id").agg(merge.head, merge.tail: _*)
          vprog(state, msgs).coalesce(p)
        }
        state = next
        n = active(row)
        graft.runtime.Trace.log(f"${cfg.algo} superstep=$step active=$n")
      }
      state
    }
    rotator.close()
    state
  }
}
