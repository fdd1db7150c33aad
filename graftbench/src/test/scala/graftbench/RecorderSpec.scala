package graftbench

import org.scalatest.funsuite.AnyFunSuite

import graft.core.meta.{CommitReport, CommitReports}

class RecorderSpec extends AnyFunSuite {

  test("an op that throws is recorded as failed and the run goes on") {
    val rec = new Recorder(None, traceOn = false)
    val o = rec.op("boom") { throw new IllegalStateException("lost the table") }
    assert(o.error.exists(_.contains("lost the table")))
    assert(rec.op("next")(Check("1", "1")).error.isEmpty)
    assert(rec.ops.map(_.id) == Seq(0, 1))
  }

  test("a result check keeps both sides, and a later twin can set the expected one") {
    val rec = new Recorder(None, traceOn = false)
    val o = rec.op("q")(Check("", "[F,3,900]"))
    rec.setExpected(o.id, "[F,3,901]")
    assert(rec.ops(o.id).expected == "[F,3,901]" && rec.ops(o.id).actual == "[F,3,900]")
  }

  test("spans of a traced op nest under its root and carry counts") {
    val rec = new Recorder(None, traceOn = true)
    rec.op("plan", traced = true) {
      rec.span("core.meta", "plan") {
        rec.span("core.expr", "filter")(())
        rec.attrs("tasks" -> 3.0)
      }
      Check("a", "a")
    }
    val byName = rec.spans.map(s => s.name -> s).toMap
    val root = byName("graft.plan")
    assert(root.parent == -1 && root.t0 == rec.ops(0).t0 && root.t1 == rec.ops(0).t1)
    assert(byName("plan").parent == root.id && byName("plan").attrs("tasks") == 3.0)
    assert(byName("filter").parent == byName("plan").id)
    rec.close()
  }

  test("untraced ops, and every op of an untraced run, record no spans") {
    val traced = new Recorder(None, traceOn = true)
    traced.op("q", traced = false)(traced.span("spark", "plan")(Check("", "")))
    assert(traced.spans.isEmpty)
    traced.close()
    val plain = new Recorder(None, traceOn = false)
    plain.op("q", traced = true)(plain.span("spark", "plan")(Check("", "")))
    assert(plain.spans.isEmpty && !plain.ops(0).traced)
  }

  test("a commit report lands in the span of the commit the benchmark timed") {
    val rec = new Recorder(None, traceOn = true)
    rec.op("commit", traced = true) {
      rec.span("core.meta", "commit") {
        Thread.sleep(5)
        CommitReports.add(CommitReport("/t", 7L, "append", "main", 2, 3L,
          Map("manifests-created" -> "1", "manifests-kept" -> "40"),
          System.currentTimeMillis()))
      }
      Check("", "")
    }
    val commits = rec.spans.filter(_.name == "commit")
    assert(commits.size == 1)
    assert(commits.head.attrs("attempts") == 2.0 && commits.head.attrs("manifests") == 41.0)
    rec.close()
  }
}
