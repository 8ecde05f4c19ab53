package graft

import org.apache.spark.sql.functions.col

import graft.tools.{Probe, ScaleProbe}

class ProbeSpec extends SparkSpec {
  private def withTracer[T](body: Probe.Tracer => T): T = {
    val tracer = new Probe.Tracer(spark)
    try body(tracer) finally tracer.close()
  }

  private def planOf(pass: Probe.Pass): String =
    pass.plan.getOrElse(fail("no SQL execution reached the listener")).toString

  // each query's executed full-output plan must run the operator it is
  // named for; "(" keeps percentile from matching percentile_approx
  private val named = Seq(
    "q29_percentile" -> "percentile(",
    "q44_approx_distinct" -> "approx_count_distinct(",
    "q63_approx_quantile" -> "percentile_approx(",
    "q146_bpe_encode" -> "bpeencode(")

  test("the timed full-output plan runs the operator each query is named for") {
    val reg = Probe.registry
    withTracer { tracer =>
      named.foreach { case (q, op) =>
        val plan = planOf(Probe.fullOutput(tracer, spark, reg(q), sfDir))
        assert(plan.contains(op), s"$q: timed plan lacks $op:\n$plan")
      }
    }
  }

  test(".count() prunes the named operator out of q29 and q44 (why Probe never counts)") {
    val reg = Probe.registry
    withTracer { tracer =>
      named.take(2).foreach { case (q, op) =>
        val plan = planOf(tracer { reg(q)(spark, sfDir).count() })
        assert(!plan.contains(op), s"$q: count plan still runs $op:\n$plan")
      }
    }
  }

  test("the resolver fails loudly on an unknown name and on a name in two registries") {
    val reg = Probe.registry
    assert(ScaleProbe.probeNames.forall(reg.contains), "every scale-probe row resolves")
    val e = intercept[IllegalArgumentException](Probe.resolve(reg, Seq("q01_pricing_summary", "q00_nope")))
    assert(e.getMessage.contains("q00_nope"))
    val q: Probe.Query = (s, _) => s.range(1).toDF()
    val d = intercept[IllegalArgumentException](
      Probe.merged(Seq("a" -> Seq("x" -> q, "y" -> q), "b" -> Seq("x" -> q))))
    assert(d.getMessage.contains("x (a, b)"), d.getMessage)
  }

  test("job count is exact and identical on every pass") {
    // two eager materializations, one job each, then the write's one job:
    // 3 jobs per pass, read after the listener bus drains (no settle sleep)
    val planted: Probe.Query = (s, _) => {
      val a = CacheHygiene.materialize(s.range(0, 1000).toDF("id"), "planted a")
      val b = CacheHygiene.materialize(a.select((col("id") * 2).as("x")), "planted b")
      b.filter(col("x") % 3 === 0)
    }
    val jobs = withTracer(t => Seq.fill(Probe.Passes)(Probe.fullOutput(t, spark, planted, sfDir).jobs))
    assert(jobs == Seq(3, 3, 3), s"jobs per pass: $jobs")
  }
}
