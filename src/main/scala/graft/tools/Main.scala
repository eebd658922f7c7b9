package graft.tools

import org.apache.spark.sql.SparkSession

/** The one entry point for the developer tools:
  *
  *   sbt -batch "runMain graft.tools.Main <subcommand> [args...]"
  *
  * Each tool's `run(args)` returns an exit status, and [[main]] is the one
  * place that turns it into a process exit, so a gate (`plansweep`,
  * `adversarial`) can also be called from a test. `graft.Bench` and
  * `graft.Verify` (frozen: the timed suite and the oracle dump) and
  * `graft.ExtractMain` (the job) keep their own mains.
  */
object Main {

  private final case class Tool(name: String, args: String, run: Array[String] => Int)

  private val tools: Seq[Tool] = Seq(
    Tool("plansweep", "[sfDir]", graft.PlanSweep.run),
    Tool("plandump", "<outDir> <suffix> [queryPrefix...]", graft.PlanDump.run),
    Tool("adversarial", "<fuzzDir>", graft.AdversarialSweep.run),
    Tool("diff", "<inputDir> <out.json>", graft.DiffRunner.run),
    Tool("kernel", "parse|text|main|bench <file.html> [selector|iterations]",
      graft.kernel.KernelCli.run),
    Tool("bench-extra", "[queryPrefix...]", graft.BenchExtra.run),
    Tool("scaling", "[N] [replicate] [trials] [sfDir]", graft.ScalingBench.run),
    Tool("soak", "<sfDir> <outTable> <nBuckets> <replication> [failAtBucket]",
      graft.SoakMain.run))

  def main(args: Array[String]): Unit = sys.exit(run(args))

  /** Runs the subcommand named by `args(0)` on the remaining arguments.
    * With no arguments or an unknown name it prints the subcommand list to
    * stderr and returns 2 without running anything.
    */
  def run(args: Array[String]): Int =
    tools.find(t => args.headOption.contains(t.name)) match {
      case Some(tool) => tool.run(args.tail)
      case None =>
        Console.err.println(("usage: graft.tools.Main <subcommand> [args...]" +:
          tools.map(t => f"  ${t.name}%-12s ${t.args}")).mkString("\n"))
        2
    }

  /** The local session every tool and `ExtractMain` runs on: `local[cores]`
    * with as many shuffle partitions, UTC, adaptive execution on, no UI and
    * WARN logging. `cores` defaults to `SPARK_GRAFT_CPUS`, else the number
    * of processors the JVM sees.
    */
  def localSession(cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
}
