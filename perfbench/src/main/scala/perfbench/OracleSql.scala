package perfbench

import java.nio.file.{Files, Path}

/** Writes the DuckDB oracle SQL the program registers for each query of
  * `query_mix` as one JSON object (name → SQL); `run.py --make-oracle`
  * turns it into the stored oracle hashes. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    val json = (QueryBench.Iterative ++ QueryBench.Fixed).flatMap(n => sql.get(n).map(n -> _))
      .map { case (n, q) => s"${Report.str(n)}:${Report.str(q)}" }.mkString("{", ",\n", "}")
    Files.writeString(Path.of(args(0)), json + "\n")
  }
}
