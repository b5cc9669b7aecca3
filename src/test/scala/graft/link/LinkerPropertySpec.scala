package graft.link

import graft.model.Span
import org.scalacheck.{Gen, Prop, Properties}
import scala.util.Random

/** Property-based invariants for the linker (SURVEY §5 new-engine test plan):
  * stronger than the reference, which silently depends on input order (M2). */
object LinkerPropertySpec extends Properties("DependencyLinker") {

  private val services = Vector("a-svc", "b-svc", "c-svc", "d-svc", "e-svc")
  private val kinds = Vector(Some("CLIENT"), Some("SERVER"), Some("PRODUCER"),
    Some("CONSUMER"), None)

  /** Random adversarial trace: parent pointers into earlier spans, later
    * spans (parentId cycles), the span itself, a missing id or none; random
    * kinds/endpoints/errors; and duplicate reports that disagree with the
    * first on any field, some of them the other half (shared flipped) of
    * their id. */
  private def adversarialTrace(rnd: Random, n: Int): List[Span] = {
    def opt[A](a: => A): Option[A] = if (rnd.nextInt(4) == 0) None else Some(a)
    val firsts = (0 until n).map { i =>
      val parent = rnd.nextInt(12) match {
        case 0 => None
        case 1 => Some("feeddeadbeef0000") // dangling
        case 2 => Some(f"$i%016x") // itself
        case 3 => Some(f"${rnd.nextInt(n)}%016x") // any span: later ones close cycles
        case _ => if (i == 0) None else Some(f"${rnd.nextInt(i)}%016x")
      }
      Span(
        traceId = "0000000000000abc",
        parentId = parent,
        id = f"$i%016x",
        kind = kinds(rnd.nextInt(kinds.size)),
        timestamp = if (rnd.nextBoolean()) Some(1000L + i) else None,
        duration = None,
        shared = rnd.nextInt(4) == 0,
        localServiceName = if (rnd.nextInt(8) == 0) None else Some(services(rnd.nextInt(services.size))),
        remoteServiceName = if (rnd.nextInt(3) == 0) None else Some(services(rnd.nextInt(services.size))),
        errorTag = rnd.nextInt(5) == 0
      )
    }
    val dupes = firsts.filter(_ => rnd.nextInt(3) == 0).map { s =>
      def keep = rnd.nextBoolean()
      s.copy(
        parentId = if (keep) s.parentId else opt(f"${rnd.nextInt(n + 1)}%016x"),
        kind = if (keep) s.kind else kinds(rnd.nextInt(kinds.size)),
        timestamp = if (keep) s.timestamp else opt(1000L + rnd.nextInt(n + 1)),
        duration = opt(rnd.nextInt(100).toLong),
        shared = if (rnd.nextInt(3) == 0) !s.shared else s.shared,
        localServiceName = if (keep) s.localServiceName else opt(services(rnd.nextInt(services.size))),
        remoteServiceName = if (keep) s.remoteServiceName else opt(services(rnd.nextInt(services.size))),
        errorTag = rnd.nextBoolean())
    }
    rnd.shuffle(firsts ++ dupes).toList
  }

  private val genTrace: Gen[List[Span]] = for {
    n <- Gen.choose(0, 25)
    seed <- Gen.choose(0L, Long.MaxValue)
  } yield adversarialTrace(new Random(seed), n)

  property("errorCount <= callCount and counts positive") = Prop.forAll(genTrace) { spans =>
    DependencyLinker.link(spans).forall(l =>
      l.callCount >= 1 && l.errorCount >= 0 && l.errorCount <= l.callCount)
  }

  property("output independent of input order") = Prop.forAll(genTrace) { spans =>
    val expect = DependencyLinker.link(spans)
    val shuffled = new Random(42).shuffle(spans)
    DependencyLinker.link(shuffled) == expect
  }

  property("link endpoints come from input service names") = Prop.forAll(genTrace) { spans =>
    val names = spans.flatMap(s => s.localServiceName ++ s.remoteServiceName).toSet
    DependencyLinker.link(spans).forall(l => names(l.parent) && names(l.child))
  }

  property("(parent, child) keys are distinct") = Prop.forAll(genTrace) { spans =>
    val out = DependencyLinker.link(spans)
    out.map(l => (l.parent, l.child)).distinct.size == out.size
  }

  property("total calls bounded by span-report count") = Prop.forAll(genTrace) { spans =>
    // merge can only shrink; each merged span emits at most 2 links (its own +
    // one client backfill)
    DependencyLinker.link(spans).map(_.callCount).sum <= 2L * spans.size
  }

  property("equals the pre-rewrite linker on 10 000 seeded adversarial traces") = {
    // the pre-rewrite linker merges reports that tie on (id, shared, endpoints,
    // timestamp) in input order; handed them in the full report order, it
    // merges them as the linker does from any order
    def reportOrder(t: List[Span]) = t.sortBy(s => (s.id, s.shared,
      s.localServiceName.getOrElse(""), s.remoteServiceName.getOrElse(""),
      s.timestamp.getOrElse(Long.MaxValue), s.kind.getOrElse(""), s.parentId.getOrElse("")))
    val rnd = new Random(20261019L)
    val traces = Iterator.fill(10000)(adversarialTrace(rnd, rnd.nextInt(41)))
    val mismatch = traces.find(t =>
      DependencyLinker.link(t) != ReferenceLinker.link(reportOrder(t)))
    Prop(mismatch.isEmpty) :| s"first mismatch: $mismatch"
  }

  property("a 200 000-deep chain links without overflowing the stack") = {
    // every other hop is a kind-less local span, so each RPC span's nearest
    // kinded ancestor sits two levels up
    val chain = (0 until 200000).reverse.map { i =>
      Span("0000000000000abc", if (i == 0) None else Some(f"${i - 1}%016x"), f"$i%016x",
        if (i % 2 == 0) Some(if (i % 4 == 0) "SERVER" else "CLIENT") else None,
        Some(1000L + i), None, false, Some(services(i % 3)), None, i % 7 == 0)
    }
    val out = DependencyLinker.link(chain)
    Prop(out.nonEmpty && out == ReferenceLinker.link(chain))
  }

  property("low64 idempotent and width-unifying") = Prop.forAll(Gen.listOfN(32, Gen.hexChar)) { cs =>
    val id128 = cs.mkString.toLowerCase
    val low = Span.low64(id128)
    low.length == 16 && Span.low64(low) == low
  }
}
