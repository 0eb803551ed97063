package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's self-adjudication rule. Two failure classes drove its
  * shape, replayed here as pins:
  *
  *  - r18: the official artifact stamped itself quiet while its qscale
  *    tail ran 62× degraded — load was sampled only around the sweep and
  *    steal only whole-run. A noisy TAIL must flip the stamp even when
  *    every sweep-era sample reads quiet (per-phase brackets).
  *  - r19: the official artifact flipped its qscale phase noisy on
  *    loadavg 6.54 at steal 0.039% — load that was mostly the bench's
  *    OWN 4× fixture build — and produced zero usable qscale numbers.
  *    A phase the bench itself kept busy must stamp QUIET when the
  *    external signals (steal, host-busy-minus-self) are quiet; loadavg
  *    is recorded evidence, not a gate.
  */
class BenchRegimeSpec extends AnyFunSuite {
  import BenchRegime._

  // the old 4.0-loadavg gate expressed capacity-relative on a 32-cpu
  // host: 100·4/32 = 12.5% of capacity demanded by other processes
  private val maxExtBusy = 12.5
  private val maxSteal   = 1.0
  private def quiet(name: String) =
    PhaseBracket(name, 1.2, 2.8, 0.02, extBusyPct = 0.8)

  test("an all-quiet run stamps quiet") {
    val phases = Seq(quiet("sweep"), quiet("ingest10x"), quiet("qscale"), quiet("maint_scale"))
    assert(stamp(phases, 0.02, maxExtBusy, maxSteal) === "quiet")
  }

  test("the r18 scenario: a degraded tail flips the stamp despite a quiet sweep") {
    // sweep-era samples all pass; external work ramps through the tail —
    // visible as EXTERNAL busy CPU the bench did not generate
    val phases = Seq(quiet("sweep"),
                     PhaseBracket("ingest10x", 2.9, 3.4, 0.01, extBusyPct = 2.0),
                     PhaseBracket("qscale", 3.6, 5.5, 0.02, extBusyPct = 35.0))
    assert(stamp(phases, 0.02, maxExtBusy, maxSteal) === "noisy-host")
    assert(!phaseQuiet(phases.last, maxExtBusy, maxSteal), "the breached phase stamps itself")
    assert(phaseQuiet(phases.head, maxExtBusy, maxSteal), "the quiet sweep keeps its own stamp")
  }

  test("the r19 scenario: self-load alone keeps the qscale phase USABLE") {
    // the driver window: loadavg 6.54 from the bench's own fixture build,
    // steal 0.039%, next to no external CPU — the phase must stamp quiet
    // so its probe readings are usable without a manual repro
    val p = PhaseBracket("qscale", 6.54, 3.1, 0.039, extBusyPct = 1.2)
    assert(phaseQuiet(p, maxExtBusy, maxSteal), "self-load must not condemn the phase")
    assert(stamp(Seq(quiet("sweep"), p), 0.04, maxExtBusy, maxSteal) === "quiet")
  }

  test("a steal burst confined to one phase flips the stamp even under the whole-run average") {
    // 3% steal for one short phase dilutes below 1% over the full run —
    // the whole-run term alone would miss it
    val phases = Seq(quiet("sweep"),
                     PhaseBracket("qscale", 2.0, 2.5, 3.0, extBusyPct = 0.5))
    assert(stamp(phases, 0.4, maxExtBusy, maxSteal) === "noisy-host")
  }

  test("external busy CPU breaches a phase even at zero steal") {
    // a noisy neighbor on a non-virtualized host shows no steal at all —
    // the host-busy-minus-self term is the signal that catches it
    val p = PhaseBracket("sweep", 8.0, 9.0, 0.0, extBusyPct = 40.0)
    assert(!phaseQuiet(p, maxExtBusy, maxSteal))
    assert(stamp(Seq(p), 0.0, maxExtBusy, maxSteal) === "noisy-host")
  }

  test("the whole-run steal term still applies on its own") {
    assert(stamp(Seq(quiet("sweep")), 4.0, maxExtBusy, maxSteal) === "noisy-host")
  }

  test("unavailable /proc samples (negative) are excluded, not breaches") {
    val p = PhaseBracket("sweep", -1.0, -1.0, 0.0, extBusyPct = -1.0)
    assert(stamp(Seq(p), 0.0, maxExtBusy, maxSteal) === "quiet")
  }

  test("phasesJson carries one self-stamped entry per phase with the external term") {
    val phases = Seq(quiet("sweep"),
                     PhaseBracket("qscale", 3.6, 5.5, 0.02, extBusyPct = 35.0))
    val j = phasesJson(phases, maxExtBusy, maxSteal)
    assert(j.contains(""""name":"sweep"""") && j.contains(""""quiet":true"""))
    assert(j.contains(""""name":"qscale"""") && j.contains(""""quiet":false"""))
    assert(j.contains(""""ext_busy_pct":35.00"""))
  }
}
