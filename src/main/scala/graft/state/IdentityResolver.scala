package graft.state

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Identity resolution: connected components over the alias edge set.
  *
  * The reference resolves aliases with per-key redirect chains inside
  * Durable Objects (`/root/reference/src/persons.rs:76-110,237-249`,
  * hop-capped chain walk). In a data-parallel batch replay the same
  * semantics are the connected components of the alias graph: every
  * distinct_id in a component maps to one canonical id.
  *
  * Algorithm: iterative min-label propagation (large-star/small-star
  * style simplification) — `label(v) ← min(label(v), min_{(u,v)∈E}
  * label(u))` to a fixpoint. Each iteration is one shuffle on the edge
  * key; convergence is O(diameter) iterations and alias graphs are
  * shallow (SDK chains: anon → identified, a few hops), so in practice
  * 2-4 iterations. A hard cap bounds pathological inputs (mirrors the
  * reference's 10-hop redirect cap).
  *
  * Canonical choice: the minimum of a caller-supplied sortable label —
  * by default the id itself; callers prepend a priority rank so e.g.
  * identified ids beat anonymous ids regardless of lexicographic order.
  *
  * Scale: state per iteration is one (id, label) pair per vertex —
  * ~tens of bytes × |ids|; shuffles are hash joins on string keys.
  * At 100 TB of events the vertex set (distinct ids) is orders of
  * magnitude smaller than the event set, and the resulting redirect
  * map is broadcast-joined back against events.
  */
object IdentityResolver {

  val MaxIters = 15

  /** Retained-heap estimate for the collected edge list + union-find:
    * per edge, two String objects live in the row array and again as
    * map keys (UTF-16 → 2 bytes/char, ×2 copies), plus ~160 B of
    * object headers, char[] headers, and HashMap entry overhead. This
    * is the byte model the local path is budgeted on: below
    * [[graft.HeapWatermark.Budget]] the components run as a
    * driver-local union-find over the collected edge list (alias graphs
    * are orders of magnitude smaller than the event sets they resolve —
    * the reference holds the whole redirect map in one Durable Object);
    * above it the distributed fixpoint takes over, so long ids flip to
    * the distributed path at the same memory budget.
    */
  private[graft] def estimatedHeapBytes(edgeCount: Long, idBytes: Long): Long =
    4L * idBytes + 160L * edgeCount

  /** Driver-local union-find over an edge list. Public within graft:
    * the streaming identity merge runs it directly on its per-batch
    * alias pairs (already driver-resident by that operator's design)
    * so both CC paths share one implementation.
    */
  private[graft] def localComponents(
      edges: Seq[(String, String)],
      labelOf: String => String = identity): Seq[(String, String)] = {
    val parent = collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val members = parent.keys.toSeq
    val byRoot = members.groupBy(find)
    byRoot.valuesIterator.flatMap { comp =>
      val canonical = comp.minBy(labelOf)
      comp.map(_ -> canonical)
    }.toSeq
  }

  /** Default canonical election: the id is its own label (min id wins).
    * Kept as a stable reference so the local fast path can recognize it
    * and skip the label-evaluation Spark job entirely.
    */
  val IdentityLabel: org.apache.spark.sql.Column => org.apache.spark.sql.Column = identity

  /** edges: DataFrame with string columns (`src`, `dst`) that is a SET
    * — no `(src, dst)` row twice. The local path collects it as given,
    * so a repeated edge would count twice against `localHeapBudget`;
    * callers whose edges can repeat run `distinct()` themselves (the
    * distributed path still dedups its symmetric closure).
    * labelRank: maps an id to a sortable label prefix rank (lower wins
    * canonical election). Returns (`id`, `canonical`).
    */
  def components(
      spark: SparkSession,
      edges: DataFrame,
      labelOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = IdentityLabel,
      localHeapBudget: Long = graft.HeapWatermark.Budget)
    : DataFrame = {

    import spark.implicits._

    val undirected = edges.select(col("src"), col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // driver-local union-find; labelOf still evaluated by Spark so
    // both paths share one canonical-election definition
    def localPath(pairs: Seq[(String, String)]): DataFrame = {
      // identity labels need no evaluation pass — skip the Spark job
      // (matters for per-micro-batch CC where driver latency dominates)
      val lbl: String => String =
        if (labelOf eq IdentityLabel) identity
        else {
          val ids = pairs.flatMap(p => Seq(p._1, p._2)).distinct
          graft.HeapWatermark.recordRows("identity_resolver.local_labels",
            ids.toDF("id")
              .select(col("id"), labelOf(col("id")).cast("string").as("lbl"))
              .collect()).map(r => r.getString(0) -> r.getString(1)).toMap
        }
      localComponents(pairs, lbl).toDF("id", "canonical")
    }
    // one bounded collect decides the path: the edge list reaches the
    // driver iff its modeled heap fits the budget, so an over-budget
    // edge set is never shipped to find out it does not fit (and a
    // quiet micro-batch returns zero rows from the same job)
    val local = graft.HeapWatermark.collectWithin("identity_resolver.local_edges",
      undirected.rdd.map(r => (r.getString(0), r.getString(1))),
      (p: (String, String)) => estimatedHeapBytes(1L, p._1.length.toLong + p._2.length),
      localHeapBudget)
    if (local.isDefined) {
      undirected.unpersist()
      if (local.get.isEmpty) return Seq.empty[(String, String)].toDF("id", "canonical")
      return localPath(local.get.toSeq)
    }

    val e = undirected
      .union(undirected.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = e.select(col("src").as("id")).distinct()
      .select(col("id"), labelOf(col("id")).as("lbl"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var converged = false
    var iter = 0
    while (!converged && iter < MaxIters) {
      // min neighbor label per vertex, one shuffle
      val nbr = e.join(labels, e("dst") === labels("id"))
        .groupBy(e("src").as("id"))
        .agg(min(col("lbl")).as("nbr_lbl"))
      val next = labels.join(nbr, Seq("id"), "left")
        .select(col("id"),
          when(col("nbr_lbl") < col("lbl"), col("nbr_lbl")).otherwise(col("lbl")).as("lbl"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val changed = next.as("n").join(labels.as("o"), Seq("id"))
        .filter(col("n.lbl") =!= col("o.lbl")).limit(1).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      iter += 1
    }
    e.unpersist()
    // an unconverged exit would silently split components and hand out
    // wrong canonical ids — fail loudly instead (graphs that deep are
    // pathological; raise MaxIters or pre-contract the chains)
    if (!converged) throw new IllegalStateException(
      s"identity CC fixpoint did not converge within $MaxIters iterations — " +
        "alias graph diameter exceeds the cap; refusing to emit split components")

    // lbl elects the canonical; map back to the elected member's id.
    // NOTE: the join below requires labelOf to be INJECTIVE (two ids
    // mapping to one label would cross-join components) — the default
    // identity and any "rank|id" prefix scheme satisfy this.
    val canon = labels.as("l")
      .join(labels.select(labelOf(col("id")).as("lbl"), col("id").as("canonical")).as("c"), Seq("lbl"))
      .select(col("l.id").as("id"), col("canonical"))
    canon
  }
}
