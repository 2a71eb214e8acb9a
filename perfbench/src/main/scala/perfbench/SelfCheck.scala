package perfbench

import graft.streaming.Rule

/** The benchmark's checks of its own arithmetic on small inputs. Each
  * failed check counts as a failed operation of the run. */
object SelfCheck {
  private val rules = Seq(Rule("purchase", 150.0, "HIGH"), Rule("click", 180.0, "LOW"))

  def pure(report: Report): Unit = {
    def check(ok: Boolean, what: String): Unit = report.check(ok, s"self-check: $what")
    // nearest-rank percentiles
    val xs = (1 to 100).map(_.toDouble)
    check(Stats.percentile(xs, 50) == 50.0 && Stats.percentile(xs, 99) == 99.0 &&
      Stats.percentile(xs, 100) == 100.0 && Stats.percentile(Seq(7.0), 99) == 7.0, "percentile")
    check(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0, "median")
    // open-loop schedule: slots every 100 ms from 1000; the second batch
    // starts 150 ms late and the third is still one slot behind
    val bs = Seq(
      Stats.Batch(1000, 1040, 10), Stats.Batch(1250, 1300, 10), Stats.Batch(1310, 1350, 10))
    val got = Stats.openLoop(bs, 1000.0, 100L, 10L)
    check(got == Seq((40.0, 0.0, 0L), (200.0, 150.0, 10L), (150.0, 110.0, 10L)), s"open-loop schedule $got")
    val ev = Stats.eventLatencies(10.0, 4L, 100L).toSeq
    check(ev == Seq(85.0, 60.0, 35.0, 10.0), s"event latencies $ev")
    // s4 oracle against a direct walk: user u's previous event is id - users
    val spec = StreamBench.keyedSpec.copy(users = 7L)
    val byHand = (7L until 200L).count { id =>
      Gen.eventType(spec, Gen.hash(id, 3L)) == "purchase" &&
        Gen.eventType(spec, Gen.hash(id - 7L, 3L)) == "click"
    }
    check(Gen.expectedMatches(spec, 3L, 0L, 0L, 200L) == byHand &&
      Gen.expectedMatches(spec, 3L, 0L, 0L, 100L) + Gen.expectedMatches(spec, 3L, 0L, 100L, 200L) == byHand,
      "s4 oracle")
    // s1 oracle: exactly the ids whose value reaches their type's threshold
    val rs = StreamBench.rulesSpec
    val alerts = Gen.expectedAlerts(rs, 3L, rules, 0L, 500L)
    val alerting = (0L until 500L).filter { id =>
      val h = Gen.hash(id, 3L)
      rules.exists(r => r.event_type == Gen.eventType(rs, h) && Gen.value(h) >= r.threshold)
    }
    check(alerts.map(_.event_id) == alerting &&
      alerts.forall(a => rules.exists(r => r.event_type == a.event_type && a.value >= r.threshold &&
        a.severity == r.severity)), "s1 oracle")
  }
}
