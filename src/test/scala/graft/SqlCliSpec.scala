package graft

import java.io.ByteArrayOutputStream

import graft.cli.Main

/** The `-sql` CLI surface: the whole analytics layer driven by SQL text
  * alone — corpus views + graft_* functions registered, statements run
  * through spark.sql, TAB-separated output, copy-CLI exit codes. */
class SqlCliSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  private def runCli(args: String*): (Int, Seq[String]) = {
    val out = new ByteArrayOutputStream()
    val code = Console.withOut(out)(Main.run(args.toArray, spark))
    (code, out.toString("UTF-8").linesIterator.toSeq)
  }

  test("three queries end-to-end via SQL only") {
    val (code, lines) = runCli(
      "-sql", dir,
      // 1: plain relational join + aggregate
      "-e", """SELECT c_mktsegment, count(*) AS n
               FROM orders JOIN customer ON o_custkey = c_custkey
               GROUP BY c_mktsegment ORDER BY c_mktsegment""",
      // 2: graft_* similarity kernels, SQL-callable
      "-e", """SELECT vec_id, round(graft_l2_norm(embedding), 4) AS norm
               FROM embeddings ORDER BY vec_id LIMIT 3""",
      // 3: near-dup signature over documents (function composition)
      "-e", """SELECT count(DISTINCT graft_simhash64(graft_token_hashes64(lower(text)))) AS n_sigs
               FROM documents""")
    assert(code == 0)
    // statement 1: header + 5 segments
    val seg = lines.indexWhere(_ == "c_mktsegment\tn")
    assert(seg >= 0, s"missing join header in $lines")
    assert(lines.slice(seg + 1, seg + 6).forall(_.split('\t').length == 2))
    // statement 2: header + 3 rows of (vec_id, norm)
    val nrm = lines.indexWhere(_ == "vec_id\tnorm")
    assert(nrm >= 0)
    val vecRows = lines.slice(nrm + 1, nrm + 4).map(_.split('\t'))
    assert(vecRows.map(_.head) == Seq("0", "1", "2"))
    assert(vecRows.forall(_(1).toDouble > 0.0))
    // statement 3: one signature-count row, equal to the Scala-side count
    val sig = lines.indexWhere(_ == "n_sigs")
    assert(sig >= 0 && lines(sig + 1).toLong > 0)
  }

  test("views and functions compose with ordinary SQL features") {
    val (code, lines) = runCli("-sql", dir, "-e",
      """WITH t AS (
           SELECT source, length(text) AS n FROM documents)
         SELECT source, count(*) AS docs, max(n) AS longest
         FROM t GROUP BY source ORDER BY source LIMIT 3""")
    assert(code == 0)
    assert(lines.head == "source\tdocs\tlongest")
    assert(lines.length == 4)
  }

  test("-sql runs under Verify's settings for the same corpus and cpus") {
    // a copy-sized session once ran -sql without nanosAsLong, so INT64
    // TIMESTAMP(NANOS) corpus columns failed with PARQUET_TYPE_ILLEGAL
    val sql = Session.settings(Main.sizing(Array("-sql", dir, "-e", "SELECT 1"), 4))
    assert(sql == Session.settings(ShuffleSizing.configs(dir, 4)))
    assert(sql.contains("spark.sql.legacy.parquet.nanosAsLong" -> "true"))
    assert(Main.sizing(Array("-pt", "/a", "/b"), 4) == Session.sizing(4, 4096))
  }

  test("exit codes: bad usage is -1, failing SQL is -999") {
    assert(runCli("-sql")._1 == -1) // no dir
    assert(runCli("-sql", dir)._1 == -1) // no statements
    assert(runCli("-sql", dir, "-x", "nope")._1 == -1) // unknown flag
    assert(runCli("-sql", dir, "-f", "/no/such/script.sql")._1 == -1) // unreadable -f
    assert(runCli("-sql", dir, "-e", "SELECT * FROM no_such_table")._1 == -999)
  }

  test("a script file of ;-separated statements runs in order") {
    val f = java.nio.file.Files.createTempFile("graft_sql", ".sql")
    java.nio.file.Files.writeString(f,
      """SELECT count(*) AS regions FROM region;
        |SELECT count(*) AS nations FROM nation;""".stripMargin)
    val (code, lines) = runCli("-sql", dir, "-f", f.toString)
    assert(code == 0)
    assert(lines.indexOf("regions") < lines.indexOf("nations"))
    assert(lines(lines.indexOf("regions") + 1) == "5")
    assert(lines(lines.indexOf("nations") + 1) == "25")
  }

  test("script splitting respects semicolons inside string literals") {
    // a naive split(';') would cut inside the literal and corrupt the
    // statement; doubled quotes must stay inside their literal too
    val f = java.nio.file.Files.createTempFile("graft_sql_lit", ".sql")
    java.nio.file.Files.writeString(f,
      """SELECT split(r_name, ';')[0] AS piece FROM region WHERE r_regionkey = 0;
        |SELECT 'don''t;split' AS s FROM region WHERE r_regionkey = 0;""".stripMargin)
    val (code, lines) = runCli("-sql", dir, "-f", f.toString)
    assert(code == 0, s"script with ';' in literals must parse: $lines")
    assert(lines.contains("don't;split"), s"got $lines")
    // and the splitter itself, directly
    val parts = graft.cli.Main.splitSqlScript("SELECT 'a;b' AS x; SELECT \"q;\"\";\" FROM t;")
    assert(parts == Seq("SELECT 'a;b' AS x", "SELECT \"q;\"\";\" FROM t"), s"got $parts")
  }
}
