package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every rows-only query — iterative ML / LSH / variational training
  * whose output is not SQL-derivable — carries a `Cert` gate naming the
  * hash-gated query that anchors it. The record type already makes a
  * rows-only query without a certificate impossible; this spec checks
  * what the types cannot:
  *
  *  - a certificate target that is not itself a registered query fails;
  *  - a certificate target that is not `Oracle`-gated fails (an
  *    un-gated certificate certifies nothing).
  *
  * The deliberately-broken-fixture test proves the checker trips. */
class AuditCoverageSpec extends AnyFunSuite {

  /** Pure checker so the broken-fixture test can exercise it directly. */
  def violations(registry: Seq[Q]): Seq[String] = {
    val gates = registry.map(q => q.name -> q.gate).toMap
    registry.sortBy(_.name).collect { case Q(q, _, Cert(a), _) =>
      gates.get(a) match {
        case None => Some(s"$q -> $a: certificate not registered")
        case Some(Cert(_)) => Some(s"$q -> $a: certificate has no oracle (un-gated)")
        case Some(Oracle(_)) => None
      }
    }.flatten
  }

  test("every rows-only query is anchored by a hash-gated certificate") {
    val v = violations(SparkEntry.registry)
    assert(v.isEmpty, "\n" + v.mkString("\n"))
  }

  test("checker trips on a deliberately broken registry") {
    def q(name: String, gate: Gate) = Q(name, (_, _) => ???, gate)
    val v = violations(Seq(
      q("q_real_gated", Oracle("SELECT 1")),
      // certificate exists but is itself rows-only -> must trip
      q("q_mapped_ml", Cert("q_ungated_cert")),
      q("q_ungated_cert", Cert("q_real_gated")),
      // certificate never registered -> must trip
      q("q_orphan_ml", Cert("q_gone"))))
    assert(v.exists(_.contains("q_mapped_ml -> q_ungated_cert: certificate has no oracle")))
    assert(v.exists(_.contains("q_orphan_ml -> q_gone: certificate not registered")))
    assert(v.size == 2)
    // and a clean registry reports nothing
    assert(violations(Seq(q("a", Cert("a_audit")), q("a_audit", Oracle("SELECT 1")))).isEmpty)
  }
}
