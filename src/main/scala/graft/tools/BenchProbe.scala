package graft.tools

import graft.{Bench, Session, SparkEntry}

/** Per-pass timing probe for individual bench queries, in an isolated
  * JVM with the Bench session. Usage:
  *
  *   runMain graft.tools.BenchProbe <sfDir> <passes> [warm] <query...>
  *
  * `warm` runs Bench's warm-up queries first, so a query can be timed
  * in the same codegen/JIT context the bench measures it in. Each pass
  * starts with Bench's block clearing and prints wall time, process
  * CPU and the pass-local steal in cores: the shape of the sequence
  * (flat vs decaying) distinguishes plan cost from cold-JIT noise, and
  * a pass that moves wall but not CPU, or carries steal, was waiting.
  */
object BenchProbe {
  private val Usage = "usage: BenchProbe <sfDir> <passes> [warm] <query...>"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, Usage)
    val sfDir = Args.sfDir(args(0), Usage)
    val passes = Args.positiveInt(args(1), "passes", Usage)
    val warm = args(2) == "warm"
    val names = args.drop(if (warm) 3 else 2).toSeq
    require(names.nonEmpty, Usage)
    Args.queries(names, Usage)
    val spark = Session()
    if (warm) {
      Bench.warmUp(spark, sfDir)
      println("[probe] warmup done")
    }
    val load = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = (1 to passes).map { i =>
        Bench.clearBlocks(spark)
        val p = Bench.timePass(spark, sfDir, fn)
        println(f"[probe] $name pass $i: ${p.wall}%.3f s cpu=${p.cpu}%.3f s " +
          f"steal_cpus=${p.stealCpus}%.3f load=${load.getSystemLoadAverage}%.2f")
        p
      }
      println(f"[probe] $name min=${times.map(_.wall).min}%.3f " +
        f"median=${times.map(_.wall).sorted.apply(times.size / 2)}%.3f " +
        f"cpuMin=${times.map(_.cpu).min}%.3f")
    }
    spark.stop()
  }
}
