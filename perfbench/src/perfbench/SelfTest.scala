package perfbench

import java.security.MessageDigest

/** The benchmark's own checks, run by `perfbench/test_perfbench.py`:
  *  - seeded generation: the same seed gives byte-identical inputs for every
  *    workload, a different seed different ones;
  *  - locale-safe output: the result line and the metric table are printed
  *    under whatever default locale the JVM has (the test sets a
  *    comma-decimal one) and must still parse.
  * Prints `ok <name>` or `FAIL <name>` per check, then the sample output. */
object SelfTest {
  private def sha(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"${x & 0xff}%02x").mkString

  def main(args: Array[String]): Unit = {
    val inputs: Seq[(String, Long => Array[Byte])] = Seq(
      "sketch_ingest" -> (s => Gen.ingestBytes(s, Ingest.Shape, 5000)),
      "curate" -> (s => Gen.corpusBytes(Gen.corpus(s, Curate.Docs))))
    var ok = true
    def check(name: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok" else "FAIL"} $name")
      ok &&= cond
    }
    inputs.foreach { case (w, gen) =>
      check(s"$w: same seed, byte-identical inputs", sha(gen(7)) == sha(gen(7)))
      check(s"$w: other seed, other inputs", sha(gen(7)) != sha(gen(8)))
    }
    check("micro sample follows the ingest generator",
      Micro.sample(7, Ingest.Shape, 10).zipWithIndex.forall { case (r, i) =>
        val g = new Gen.IngestGen(7, Ingest.Shape)(i)
        r.getLong(0) == g.u && r.getDouble(1) == g.x && r.getLong(2) == g.item
      })
    check("family labels are explicit and distinct",
      Micro.families.map(_.label) == Seq("hll", "cpc", "theta", "kll", "quantiles", "req", "tdigest", "fi"))
    val sample = Seq(Out.Metric("setup_s", 12.345678, "s"), Out.Metric("a_p50_ms", 1234.5, "ms"),
      Out.Metric("ok_frac", 0.25, "ratio"), Out.Metric("peak_heap_mb", 1.0e7 + 0.5, "MB"))
    println(s"default locale ${java.util.Locale.getDefault}")
    Out.table(sample).foreach(println)
    println(Out.resultLine(attempted = 4, failed = 3, sample))
    if (!ok) sys.exit(1)
  }
}
