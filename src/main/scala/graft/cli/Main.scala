package graft.cli

import java.io.IOException

import org.apache.spark.sql.SparkSession

import graft.core.{Args, DuplicationException}
import graft.exec.Executor
import graft.plan.Planner

/** CLI with the reference's flag surface and exit-code contract
  * (DistCPPlus.java:307-333): 0 ok, -1 bad args, -2 duplication,
  * -3 remote FS errors, -999 other.
  *
  * A second entry surface, `-sql`, drives the ANALYTICS layer without any
  * Scala: every corpus table is registered as a view, the graft_* SQL
  * functions are injected, and the given statements run through
  * `spark.sql`:
  * {{{
  *   graft.cli.Main -sql /data/sf100 \
  *     -e "SELECT count(*) FROM lineitem" \
  *     -e "SELECT graft_simhash64(graft_token_hashes64(text)) FROM documents LIMIT 5"
  *   graft.cli.Main -sql /data/sf100 -f queries.sql   # ;-separated script
  * }}}
  * Results print as TAB-separated rows with a header line. Output is
  * capped at [[SqlMaxRows]] rows per statement (stderr notes the
  * truncation): the CLI is a driver process, and an uncapped SELECT over
  * a 100 TB table must not be collectable by accident.
  */
object Main {

  /** Per-statement stdout row cap for `-sql` mode. */
  val SqlMaxRows = 10000

  def run(argv: Array[String], spark: SparkSession): Int =
    if (argv.headOption.contains("-sql")) runSql(argv.drop(1).toSeq, spark)
    else Args.parse(argv.toSeq) match {
      case Left(msg) =>
        System.err.println(s"graft-copy: $msg")
        -1
      case Right(cfg) =>
        // the op's level checkpoints, plan tasks, bucket ranges and results
        // stay pinned until released; RDDs the caller persisted survive
        val mark = graft.Session.mark(spark)
        try {
          val plan = Planner.plan(spark, cfg)
          if (cfg.exportOnly) {
            // plan-only surface (op 19): WRITE the parquet plan manifest
            // (the whole point of export-only — plan now, execute later,
            // possibly from another process) and report the planning pass's
            // own count: the driver-side sourceFilesForTransfer cap exists
            // for exactly the >1M-file plans this flag is recommended for,
            // so it must not be on this path
            val out = cfg.exportPath.getOrElse(s"${cfg.dst}/_graft_plan")
            Planner.savePlan(spark, plan, out)
            println(s"planned ${plan.totals.files} file copies; plan exported to $out")
            0
          } else {
            val stats = Executor.execute(spark, plan, cfg)
            println(
              s"COPY=${stats.copied} SKIP=${stats.skipped} FAIL=${stats.failed} " +
                s"DIR=${stats.dirs} BYTESCOPIED=${stats.bytesCopied} BYTESEXPECTED=${stats.bytesExpected}")
            // failures without -i surface as CopyFailedException below;
            // with -i the run reports and exits 0 by contract
            0
          }
        } catch {
          case e: DuplicationException =>
            System.err.println(s"graft-copy: ${e.getMessage}")
            -2
          case e: graft.core.CopyFailedException =>
            System.err.println(s"graft-copy: ${e.getMessage}")
            -999
          case e: IOException =>
            System.err.println(s"graft-copy: ${e.getMessage}")
            -3
          case e: Throwable =>
            System.err.println(s"graft-copy: ${e.getClass.getName}: ${e.getMessage}")
            -999
        } finally graft.Session.sweep(spark, after = mark)
    }

  /** Split a `-f` script on statement-separating semicolons ONLY: a naive
    * split(';') cuts inside string literals (`split_part(tag, ';', 1)`),
    * corrupting valid SQL. Tracks single/double-quoted runs with doubled
    * quotes ('' / "") as escapes — the SQL dialects the CLI fronts. */
  private[graft] def splitSqlScript(script: String): Seq[String] = {
    val out = Vector.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0
    var i = 0
    while (i < script.length) {
      val ch = script.charAt(i)
      if (quote != 0) {
        cur.append(ch)
        if (ch == quote) {
          if (i + 1 < script.length && script.charAt(i + 1) == quote) {
            cur.append(quote); i += 1 // doubled quote = escaped, stay quoted
          } else quote = 0
        }
      } else ch match {
        case '\'' | '"' => quote = ch; cur.append(ch)
        case ';' => out += cur.toString; cur.clear()
        case c => cur.append(c)
      }
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  /** `-sql` mode: <dir> then any mix of `-e <stmt>` / `-f <script>`.
    * Statements run in order; the first failure stops the run (-999), a
    * malformed invocation is -1 — the copy CLI's exit-code contract. */
  private def runSql(argv: Seq[String], spark: SparkSession): Int = {
    def parse(rest: Seq[String], acc: Seq[String]): Either[String, Seq[String]] =
      rest match {
        case Nil => Right(acc)
        case "-e" +: stmt +: tail => parse(tail, acc :+ stmt)
        case "-f" +: path +: tail =>
          // an unreadable script file is a malformed invocation (-1), not
          // an uncaught stack trace — keep the exit-code contract
          val read =
            try {
              val src = scala.io.Source.fromFile(path)
              try Right(src.mkString) finally src.close()
            } catch {
              case e: IOException => Left(s"cannot read -f $path: ${e.getMessage}")
            }
          read.flatMap(script =>
            parse(tail, acc ++ splitSqlScript(script)))
        case other +: _ => Left(s"unexpected argument '$other' (want -e/-f)")
      }
    argv match {
      case dir +: rest if !dir.startsWith("-") =>
        parse(rest, Nil) match {
          case Left(msg) =>
            System.err.println(s"graft-sql: $msg"); -1
          case Right(Nil) =>
            System.err.println("graft-sql: no statements (use -e '<sql>' or -f <file>)"); -1
          case Right(stmts) =>
            try {
              graft.Graft.registerViews(spark, dir)
              graft.Graft.registerFunctions(spark)
              stmts.foreach { sql =>
                val df = spark.sql(sql)
                if (df.columns.nonEmpty) {
                  // capped driver materialization — never an unbounded collect
                  val rows = df.limit(SqlMaxRows + 1).collect()
                  println(df.columns.mkString("\t"))
                  rows.take(SqlMaxRows).foreach { r =>
                    println(r.toSeq.map(v => if (v == null) "NULL" else v.toString)
                      .mkString("\t"))
                  }
                  if (rows.length > SqlMaxRows)
                    System.err.println(s"graft-sql: output capped at $SqlMaxRows rows")
                }
              }
              0
            } catch {
              case e: Throwable =>
                System.err.println(s"graft-sql: ${e.getClass.getName}: ${e.getMessage}")
                -999
            }
        }
      case _ =>
        System.err.println("graft-sql: usage: -sql <tableDir> [-e <sql>]... [-f <script>]...")
        -1
    }
  }

  /** `-sql <dir>` runs analytics over the corpus under dir, so it is sized
    * like every corpus session (see [[graft.ShuffleSizing]]). A copy's
    * exchanges carry file-METADATA rows (~200 B/file), so the right sizing
    * input is file COUNT, which isn't known until the enumeration the
    * session exists to run. Instead of pre-listing the source twice, give
    * AQE a static generous ceiling to coalesce down from: 4096 initial
    * partitions × ~200 MB/task ≈ 4B files before the ceiling binds, while
    * small trees coalesce to the same task counts a plain cpus pin
    * produced. */
  private[graft] def sizing(argv: Array[String], cpus: Int): Seq[(String, String)] =
    argv match {
      case Array("-sql", dir, _*) if !dir.startsWith("-") => graft.ShuffleSizing.configs(dir, cpus)
      case _ => graft.Session.sizing(cpus, math.max(cpus, 4096))
    }

  def main(argv: Array[String]): Unit = {
    val cpus = graft.Session.cpus
    val spark = graft.Session("graft-copy",
      sys.env.getOrElse("SPARK_MASTER", s"local[$cpus]"), sizing(argv, cpus))
    val code = run(argv, spark)
    spark.stop()
    if (code != 0) sys.exit(code)
  }
}
