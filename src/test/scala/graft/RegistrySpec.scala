package graft

/** Contract pins for the driver-facing registry itself: every query
  * must carry a DuckDB oracle (a missing entry silently downgrades
  * the driver's check to rows-only), names must be unique across the
  * bench's two timing namespaces, and the flagship entry must return
  * rows on the smoke fixture. */
class RegistrySpec extends SparkSpec {

  test("every registry query has an oracle, and no oracle is orphaned") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q.diff(o).isEmpty, s"queries missing an oracle: ${q.diff(o).toSeq.sorted}")
    assert(o.diff(q).isEmpty, s"oracles without a query: ${o.diff(q).toSeq.sorted}")
  }

  test("prepare-step names never shadow query names in the bench output") {
    val p = SparkEntry.prepareSteps.map(_._1)
    assert(p.distinct === p, "duplicate prepare-step names")
    val clash = p.toSet.intersect(SparkEntry.queries.keySet)
    assert(clash.isEmpty, s"prepare steps shadowing queries: $clash")
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every registry output schema is driver-sortable (no top-level array/map/struct)") {
    // The driver's oracle harness canonicalizes results with pandas
    // sort_values, which throws "unhashable type" on any non-scalar
    // column — exactly how round 6's s_label_centroids slipped through
    // a 114-ok local gate (tools/local_check.py canonicalizes via
    // repr() and passed). Schema analysis only; nothing executes.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val dir = "/root/testdata/sf0.001"
    // construction fans out on a small pool: several builders run eager
    // substrate jobs (sketch collects, codebook literals, union-find),
    // and one thread walking all 319 took ~65 s of the suite —
    // PlanCache's exactly-once holder makes concurrent construction
    // safe (PlanCacheConcurrencySpec pins it)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val bad = try {
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] =
            fn(spark, dir).schema.fields.collect {
              case f if f.dataType.isInstanceOf[ArrayType] ||
                f.dataType.isInstanceOf[MapType] ||
                f.dataType.isInstanceOf[StructType] =>
                s"$name.${f.name}: ${f.dataType.simpleString}"
            }.toSeq
        })
      }.flatMap(_.get())
    } finally pool.shutdown()
    assert(bad.isEmpty,
      s"driver-unsortable output columns (pandas sort_values crashes on these): $bad")
  }

  test("bench stdout contract line is registry-size-independent and far under the tail capture") {
    // Rounds 2, 3 and 6 all lost the official bench record to stdout
    // truncation (~2000-char driver tail). The line carries a FIXED
    // field set and no per-query map; pin it at worst-case field
    // widths so registry growth can never regress it. (r15 added two
    // short fields: prepare_par — the wall-clock-semantics marker for
    // the overlapped prepare — and jit_settle_wait, the one untimed
    // window between prepare and the timed rows; ADVICE r14.)
    val line = Bench.contractLine(86399.999, 9999.999, 114, 14, "/root/testdata/sf0.123",
      512.25, 512.25, 599.99, 99.99, 9999.99, 8, 60.0)
    assert(line.length < 1500, s"contract line ${line.length} chars: $line")
    assert(line.length < 400, s"contract line should be ~210 chars, got ${line.length}: $line")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(line.contains(""""prepare_par":8,"jit_settle_wait":60"""))
    assert(line.contains(""""quiesce_wait":599.99,"steal_pct":99.99,"spin_ms":9999.99,"load1_start":512.25"""))
    assert(line.endsWith(""""sf":0.123}"""))
    // an unmatched dir must emit quoted, keeping the line valid JSON
    assert(Bench.contractLine(1.0, 0.5, 0, 0, "/tmp/custom", -1.0, -1.0)
      .endsWith(""""sf":"/tmp/custom"}"""))
  }

  test("cpuStat/stealPct bracket host steal plausibly on this platform") {
    val a = Bench.cpuStat()
    assert(a._1 > 0 && a._2 >= 0 && a._2 <= a._1, s"cpuStat = $a")
    assert(a._3 >= 0 && a._3 <= a._1, s"cpuStat iowait = $a")
    Thread.sleep(200)
    val b = Bench.cpuStat()
    val s = Bench.stealPct(a, b)
    assert(s >= 0.0 && s <= 100.0, s"stealPct = $s")
    val io = Bench.iowaitPct(a, b)
    assert(io >= 0.0 && io <= 100.0, s"iowaitPct = $io")
    // degenerate brackets report -1, never NaN/Infinity (the JSON line)
    assert(Bench.stealPct(a, a) === -1.0)
    assert(Bench.stealPct((-1L, 0L, 0L), b) === -1.0)
    assert(Bench.iowaitPct(a, a) === -1.0)
    assert(Bench.iowaitPct((-1L, 0L, 0L), b) === -1.0)
  }

  test("only GraftSession builds a SparkSession in main code") {
    // one session factory keeps Bench, Verify and the tests on one conf;
    // scaladoc examples (`* SparkSession.builder()`) are not calls
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"walked ${files.size} files under $root")
    val builders = files.flatMap { f =>
      java.nio.file.Files.readAllLines(f).asScala.collect {
        case line if line.contains("SparkSession.builder()") &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          root.relativize(f).toString
      }
    }
    assert(builders === Seq("graft/GraftSession.scala"), builders.mkString(", "))
  }

  test("the spin probe is a plausible fixed-work timing") {
    Bench.spinProbeMs() // JIT warm
    val ms = Bench.spinProbeMs()
    assert(ms > 1.0 && ms < 30000.0, s"spinProbeMs = $ms")
  }

  test("load1 reads a plausible 1-minute loadavg on this platform") {
    // /proc/loadavg exists on the bench/verify hosts; -1 is reserved
    // for unreadable platforms, so here the value must be a real load.
    val l = Bench.load1()
    assert(l >= 0.0 && l < 100000.0, s"load1() = $l")
  }
}
