package graft.athenaeum.cli

import graft.athenaeum._

/** CLI parity with `database.py main` (`database.py:27-45`): one JSON-AST
  * file argument (optional trailing `-d` debug flag accepted and
  * ignored), table files resolved against the CWD, errors to stderr with
  * exit 1 (`write_error`, `database.py:147-152`). The session is the
  * [[graft.GraftSession]] posture over all local cores; `SPARK_MASTER`
  * overrides the master for a deployment. Under a non-local master the
  * executors read each table at its driver-side path, so the file must
  * be reachable at that path on every executor — the same contract as
  * the parquet tables.
  */
object Main {
  def main(args0: Array[String]): Unit = {
    var args = args0.toSeq
    if (args.length == 2 && args(1) == "-d") args = args.take(1)
    if (args.length != 1)
      die(s"Expecting exactly 1 command-line argument, got ${args.length}.")
    val queryText =
      try new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args.head)),
        "UTF-8")
      catch { case _: Exception =>
        die(s"""Input file "${args.head}" is not valid."""); ""
      }
    val ast =
      try Ast.fromJson(queryText)
      catch { case _: Exception =>
        die(s"""Input file "${args.head}" is not valid.""")
        null
      }
    val builder = graft.GraftSession
      .builder("athenaeum", Runtime.getRuntime.availableProcessors())
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_MASTER").foreach(builder.master)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try print(Engine.run(spark, sys.props("user.dir"), ast))
    catch { case EngineError(msg) => die(msg) }
    finally spark.stop()
  }

  private def die(msg: String): Unit = {
    System.err.println(msg)
    sys.exit(1)
  }
}

/** CLI parity with the reference's `sql-to-json` front end
  * (`sql-to-json:25-58`): SQL file in, pretty JSON AST to stdout, parse
  * errors as `line N, col M: …` on stderr with exit 1.
  *
  * An optional `--extensions` flag (ours, not the reference's — stripped
  * before the parity argument check) enables the phase-D grammar:
  * GROUP BY / COUNT / SUM / ORDER BY / LIMIT. Without it the surface is
  * byte-identical to the reference. */
object SqlToJson {
  def main(args0: Array[String]): Unit = {
    val extensions = args0.contains("--extensions")
    val args = args0.filterNot(_ == "--extensions")
    if (args.length != 1) {
      System.err.println(
        s"Expecting exactly 1 command-line argument, got ${args.length}.")
      sys.exit(1)
    }
    val text =
      try new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(args.head)),
        "UTF-8")
      catch { case e: Exception =>
        System.err.println(s"Unable to read from \"${args.head}\": ${e.getMessage}")
        sys.exit(1); ""
      }
    try print(Ast.toJson(SqlParser.parse(text, extensions)))
    catch { case SqlParser.ParseException(line, col, message) =>
      System.err.println(s"line $line, col $col: $message")
      sys.exit(1)
    }
  }
}
