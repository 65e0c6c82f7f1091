package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Benchmark driver, started by `perfbench/run.py`:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --work <dir> --out <result.json> --spans <spans.jsonl>
  * }}}
  *
  * Everything the run writes stays under `--work` (stores, sinks, inputs)
  * except the result line (`--out`) and, when tracing, the spans
  * (`--spans`). The human-readable report goes to stdout. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(opt("work"))
    val seed = opt("seed").toLong
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = graft.td.session(s"local[$cores]", cores)
    try {
      val workload = Workload(opt("workload"), spark, work.resolve("inputs"), seed)
      val bench = new Bench(spark, workload, seed, opt("seconds").toInt,
        opt("trace") == "1", work)
      val (result, report) = bench.run(Paths.get(opt("spans")))
      print(report)
      Files.writeString(Paths.get(opt("out")), result, StandardCharsets.UTF_8)
    } finally spark.stop()
  }
}
