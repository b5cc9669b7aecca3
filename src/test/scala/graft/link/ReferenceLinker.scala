package graft.link

// Test oracle: the linker as it stood before the one-node-table rewrite,
// kept verbatim apart from its name. LinkerPropertySpec checks
// DependencyLinker against it on adversarial traces.

import graft.model.{DependencyLink, Span}
import scala.collection.mutable

/** Per-trace dependency linking — the core graph operator (SURVEY.md §2.3,
  * behavior of zipkin2.internal.DependencyLinker as pinned by our fixtures in
  * FIXTURES.md §1.4; reference call sites
  * cassandra3/.../SpansToDependencyLinks.java:32-46,
  * elasticsearch/.../TraceIdAndJsonToDependencyLinks.java:34-48).
  *
  * Semantics implemented (normative for this engine, fixture-pinned):
  *
  *  1. MERGE: spans of one trace collapse by (id, shared) — duplicate reports
  *     (retries, storage dupes) merge field-wise; the client (shared=false) and
  *     server (shared=true) halves of an RPC stay distinct nodes.
  *  2. TREE: a shared span's parent is its client half (same id, shared=false);
  *     otherwise parentId resolves preferring the shared (server) half of the
  *     parent — the closest ancestor. Unresolvable parents attach to the root;
  *     with no root candidate a synthetic root (no span) is used.
  *  3. TRAVERSE breadth-first; per node classify:
  *     - CLIENT span with children is skipped (server side authoritative).
  *     - kind==null: CLIENT iff both service names present, else skipped
  *       (local span — still a tree hop).
  *     - SERVER/CONSUMER: parent=remote, child=local. A root SERVER/CONSUMER
  *       with no remote parent yields no link.
  *     - CLIENT/PRODUCER: parent=local, child=remote.
  *     - PRODUCER/CONSUMER link only via the broker endpoint; no tree walk.
  *     - RPC spans walk up to the nearest remote ancestor (nearest ancestor
  *       carrying a kind) to fill the missing parent service; a SERVER span
  *       prefers that ancestor's local name over its own remoteServiceName
  *       (the client's report of itself is authoritative for the parent side).
  *     - a CLIENT span whose local name differs from its nearest remote
  *       ancestor's name backfills a link ancestor→client-local (the
  *       "missing link to client span" rule), without error attribution.
  *  4. ERROR: a link's errorCount increments iff the span that produced the
  *     link (the child-side report) carries tag key "error".
  *  5. OUTPUT: one row per distinct (parent, child) with per-trace sums;
  *     self-links preserved. Output order is deterministic (sorted).
  */
object ReferenceLinker {

  private final class Node(val span: Span) {
    var parent: Node = _
    val children = mutable.ArrayBuffer.empty[Node]
  }

  /** Merge duplicate reports of one span: first-non-null per field, tags
    * union'd (error sticky), shared sticky per merge key. */
  private def merge(a: Span, b: Span): Span = Span(
    traceId = if (a.traceId.length >= b.traceId.length) a.traceId else b.traceId,
    parentId = a.parentId.orElse(b.parentId),
    id = a.id,
    kind = a.kind.orElse(b.kind),
    timestamp = (a.timestamp, b.timestamp) match {
      case (Some(x), Some(y)) => Some(math.min(x, y))
      case (x, y) => x.orElse(y)
    },
    duration = a.duration.orElse(b.duration),
    shared = a.shared || b.shared,
    localServiceName = a.localServiceName.orElse(b.localServiceName),
    remoteServiceName = a.remoteServiceName.orElse(b.remoteServiceName),
    errorTag = a.errorTag || b.errorTag
  )

  /** Links for one trace. Input order must not affect output (scalacheck-pinned
    * invariant — stronger than the reference's sorted-input assumption). */
  def link(spans: Iterable[Span]): Seq[DependencyLink] = {
    if (spans.isEmpty) return Nil

    // 1. merge by (id, shared) — deterministic: sort first so merge picks
    // fields independently of input order.
    val sorted = spans.toSeq.sortBy(s => (s.id, s.shared, s.localServiceName.getOrElse(""),
      s.remoteServiceName.getOrElse(""), s.timestamp.getOrElse(Long.MaxValue)))
    val byKey = mutable.LinkedHashMap.empty[(String, Boolean), Span]
    sorted.foreach { s =>
      val k = (s.id, s.shared)
      byKey(k) = byKey.get(k).map(merge(_, s)).getOrElse(s)
    }
    val cleaned = byKey.values.toSeq

    // 2. build tree
    val nodes = mutable.LinkedHashMap.empty[(String, Boolean), Node]
    cleaned.foreach(s => nodes((s.id, s.shared)) = new Node(s))
    val rootCandidates = cleaned.filter(s => s.parentId.isEmpty && !s.shared)
    val root: Node = rootCandidates.headOption.map(s => nodes((s.id, false)))
      .getOrElse(new Node(null)) // synthetic root — never linked
    nodes.values.foreach { n =>
      if (n ne root) {
        val s = n.span
        val parentNode: Node =
          if (s.shared) nodes.getOrElse((s.id, false), root)
          else s.parentId match {
            case Some(pid) =>
              // prefer the server (shared) half of the parent — closest ancestor
              nodes.get((pid, true)).filter(_ ne n)
                .orElse(nodes.get((pid, false)).filter(_ ne n))
                .getOrElse(root)
            case None => root
          }
        if (parentNode ne n) {
          n.parent = if (parentNode eq root) root else parentNode
          n.parent.children += n
        }
      }
    }
    // guard: cycles via malformed parentIds could orphan nodes from the BFS;
    // attach any node unreachable from root to the root (deterministic order).
    locally {
      val reachable = mutable.HashSet.empty[Node]
      val q = mutable.Queue(root)
      while (q.nonEmpty) { val n = q.dequeue(); if (reachable.add(n)) q ++= n.children }
      nodes.values.foreach { n =>
        if (!reachable(n)) {
          // break the cycle at this node
          if (n.parent != null) n.parent.children -= n
          n.parent = root
          root.children += n
          val q2 = mutable.Queue(n)
          while (q2.nonEmpty) { val m = q2.dequeue(); if (reachable.add(m)) q2 ++= m.children }
        }
      }
    }

    // 3. BFS + classification
    val callCounts = mutable.LinkedHashMap.empty[(String, String), (Long, Long)]
    def addLink(parent: String, child: String, isError: Boolean): Unit = {
      val (c, e) = callCounts.getOrElse((parent, child), (0L, 0L))
      callCounts((parent, child)) = (c + 1, e + (if (isError) 1 else 0))
    }
    def firstRemoteAncestor(n: Node): Node = {
      var a = n.parent
      while (a != null && (a.span == null || a.span.kind.isEmpty)) a = a.parent
      a
    }

    val queue = mutable.Queue(root)
    while (queue.nonEmpty) {
      val node = queue.dequeue()
      queue ++= node.children
      val s = node.span
      if (s != null) {
        val rawKind = s.kind
        val isClientWithChildren = rawKind.contains(Span.Client) && node.children.nonEmpty
        val local = s.localServiceName
        val remote = s.remoteServiceName
        val kind: Option[String] = rawKind.orElse(
          if (local.isDefined && remote.isDefined) Some(Span.Client) else None)
        if (!isClientWithChildren && kind.isDefined) {
          val k = kind.get
          val (parent0, child0) = k match {
            case Span.Server | Span.Consumer => (remote, local)
            case _ => (local, remote) // CLIENT | PRODUCER
          }
          val isRoot = node eq root
          val isError = s.errorTag
          if (k == Span.Producer || k == Span.Consumer) {
            // messaging: link only when both sides known; no tree walk
            if (parent0.isDefined && child0.isDefined) addLink(parent0.get, child0.get, isError)
          } else if ((k == Span.Server || k == Span.Consumer) && isRoot && parent0.isEmpty) {
            // root server with unknown peer — no link
          } else {
            var parent = parent0
            val ancestor = firstRemoteAncestor(node)
            if (ancestor != null && ancestor.span.localServiceName.isDefined) {
              val ancestorName = ancestor.span.localServiceName.get
              if (k == Span.Client && local.isDefined && ancestorName != local.get)
                addLink(ancestorName, local.get, isError = false)
              if (k == Span.Server || parent.isEmpty) parent = Some(ancestorName)
            }
            if (parent.isDefined && child0.isDefined) addLink(parent.get, child0.get, isError)
          }
        }
      }
    }

    // 4. deterministic output order
    callCounts.toSeq
      .map { case ((p, c), (calls, errs)) => DependencyLink(p, c, calls, errs) }
      .sortBy(l => (l.parent, l.child))
  }
}
