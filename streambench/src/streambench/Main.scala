package streambench

import java.nio.file.{Files, Paths}

/** Runs one workload in this JVM and writes its [[Result]] as JSON to
  * `--out`. Launched by `run.py`, which builds the classes, prepares the
  * run directory and checks the registry results against the oracle. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val res = a.workload match {
      case "traffic_paced" => Traffic.run(a, Traffic.PacedShape)
      case "registry_mix" => Registry.run(a)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(a.out), res.toJson.getBytes("UTF-8"))
  }
}
