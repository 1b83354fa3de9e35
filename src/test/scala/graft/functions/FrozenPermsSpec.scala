package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Guards the frozen permutation table the d3/d9 DuckDB oracles pin:
  * `DedupGates.frozenPerms` must equal what the engine's `perm`
  * derivation actually produces. If either side drifts, this fails
  * loudly instead of the oracle silently re-pinning engine behavior. */
class FrozenPermsSpec extends AnyFunSuite {

  test("frozen (a,b) table matches HashExpressions.perm") {
    assert(graft.gates.DedupGates.frozenPerms.size == 64)
    graft.gates.DedupGates.frozenPerms.foreach { case (j, a, b) =>
      val (ea, eb) = HashExpressions.perm(j)
      assert(a == ea && b == eb,
        s"perm($j): frozen ($a,$b) != engine ($ea,$eb)")
    }
  }

  test("constants are valid for (a*h + b) mod p arithmetic") {
    val p = 2147483647L
    graft.gates.DedupGates.frozenPerms.foreach { case (j, a, b) =>
      assert(a >= 1 && a < p, s"perm($j).a out of range: $a")
      assert(b >= 0 && b < p, s"perm($j).b out of range: $b")
    }
  }
}
