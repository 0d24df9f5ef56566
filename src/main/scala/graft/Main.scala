package graft

import org.apache.spark.sql.SparkSession
import graft.config.GraftConfig
import graft.pipeline.{BuildJob, InfoJob, QueryJob}
import graft.sources.{AspellSource, SecListsSource, WordSource}

/** Thin CLI mirroring the reference's command surface (reference
  * src/main.rs:6-16): build / query / info / source. Everything heavy is a
  * library call; this runner only parses flags (flag > env > config-file
  * precedence via GraftConfig) and formats output.
  *
  *   graft build <spec> -o out.db [-a sha256 -a md5] [--append] [--force]
  *         [--dry-run] [--quiet]
  *   graft query <hex> -d out.db [-a algo] [-l limit] [-f plain|json|table]
  *   graft info -d out.db [-f plain|json]
  *   graft source list|pull|path ...
  */
object Main {

  def main(args: Array[String]): Unit = {
    val code = run(args.toList, System.out, System.err)
    if (code != 0) sys.exit(code)
  }

  private[graft] def run(
      args: List[String], out: java.io.PrintStream, err: java.io.PrintStream
  ): Int = args match {
    case "build" :: rest => build(rest, out, err)
    case "query" :: rest => query(rest, out, err)
    case "info" :: rest => info(rest, out, err)
    case "source" :: rest => source(rest, out, err)
    case _ =>
      err.println("usage: graft <build|query|info|source> [options]")
      2
  }

  private def session(quiet: Boolean): SparkSession = {
    val s = GraftSession.build(master = sys.env.get("GRAFT_MASTER"),
      logLevel = if (quiet) "ERROR" else "WARN")
    GraftConfig.load().applyTo(s)
    s
  }

  private final case class Parsed(
      positional: List[String], flags: Map[String, List[String]])

  private def parseArgs(rest: List[String]): Parsed = {
    val flagNames = Set("-a", "-o", "-d", "-l", "-f", "--from")
    val boolFlags = Set("--append", "--force", "--dry-run", "--quiet")
    @annotation.tailrec
    def loop(args: List[String], acc: Parsed): Parsed = args match {
      case f :: v :: t if flagNames(f) =>
        loop(t, acc.copy(flags = acc.flags.updated(f, acc.flags.getOrElse(f, Nil) :+ v)))
      case f :: t if boolFlags(f) =>
        loop(t, acc.copy(flags = acc.flags.updated(f, acc.flags.getOrElse(f, Nil) :+ "true")))
      case p :: t => loop(t, acc.copy(positional = acc.positional :+ p))
      case Nil => acc
    }
    loop(rest, Parsed(Nil, Map.empty))
  }

  private def build(rest: List[String], out: java.io.PrintStream,
      err: java.io.PrintStream): Int = {
    val p = parseArgs(rest)
    val quiet = p.flags.contains("--quiet")
    (p.positional.headOption.orElse(p.flags.get("--from").flatMap(_.headOption)),
      p.flags.get("-o").flatMap(_.headOption)) match {
      case (Some(spec), Some(output)) =>
        val src = WordSource.parse(spec)
        val algos = p.flags.getOrElse("-a", List("sha256"))
        val spark = session(quiet)
        val words = src.words(spark)
        if (p.flags.contains("--dry-run")) {
          // A6: count-only pipeline (reference src/cli/build.rs:253-327)
          import org.apache.spark.sql.functions._
          val r = words.toDF("w").agg(count(lit(1)), countDistinct(col("w"))).head()
          val (total, unique) = (r.getLong(0), r.getLong(1))
          out.println(s"Total words: ${InfoJob.formatNumber(total)}")
          out.println(s"Unique words: ${InfoJob.formatNumber(unique)}")
          out.println(s"Records to create: ${InfoJob.formatNumber(unique * algos.size)}")
          return 0
        }
        val result = BuildJob.run(spark, words, output,
          BuildJob.Config(
            algorithms = algos,
            sourceName = src.name,
            append = p.flags.contains("--append"),
            force = p.flags.contains("--force")),
          contentHash = src.contentHash)
        if (result.skippedUpToDate)
          out.println("Source unchanged; build skipped (use --force to rebuild)")
        else
          out.println(s"Wrote ${InfoJob.formatNumber(result.records)} records to $output")
        0
      case _ =>
        err.println("usage: graft build <spec> -o <output.db> [-a algo]...")
        2
    }
  }

  private def query(rest: List[String], out: java.io.PrintStream,
      err: java.io.PrintStream): Int = {
    val p = parseArgs(rest)
    (p.positional.headOption, p.flags.get("-d").flatMap(_.headOption)) match {
      case (Some(hexArg), Some(db)) =>
        val params =
          try QueryJob.Params(hexArg,
            p.flags.get("-a").flatMap(_.headOption),
            p.flags.get("-l").flatMap(_.headOption).map(_.toInt).getOrElse(10))
          catch {
            case e: IllegalArgumentException => err.println(e.getMessage); return 2
          }
        val spark = session(p.flags.contains("--quiet"))
        out.println(QueryJob.render(spark, db, params,
          p.flags.get("-f").flatMap(_.headOption).getOrElse("plain")))
        0
      case _ =>
        err.println("usage: graft query <hex-hash-or-prefix> -d <db> [-a algo] [-l n] [-f fmt]")
        2
    }
  }

  private def info(rest: List[String], out: java.io.PrintStream,
      err: java.io.PrintStream): Int = {
    val p = parseArgs(rest)
    p.flags.get("-d").flatMap(_.headOption) match {
      case Some(db) =>
        val spark = session(p.flags.contains("--quiet"))
        val stats = InfoJob.run(spark, db)
        p.flags.get("-f").flatMap(_.headOption) match {
          case Some("json") =>
            val algos = stats.algorithms.map("\"" + _ + "\"").mkString("[", ",", "]")
            val srcs = stats.sources.map("\"" + _ + "\"").mkString("[", ",", "]")
            out.println(s"""{"total_records":${stats.totalRecords},"algorithms":$algos,"sources":$srcs,"file_size_bytes":${stats.sizeBytes}}""")
          case _ => out.println(InfoJob.formatPlain(stats))
        }
        0
      case _ => err.println("usage: graft info -d <db> [-f plain|json]"); 2
    }
  }

  private def source(rest: List[String], out: java.io.PrintStream,
      err: java.io.PrintStream): Int = rest match {
    case "list" :: "aspell" :: Nil =>
      if (AspellSource.isAvailable) {
        AspellSource.listLanguages().foreach(out.println); 0
      } else { err.println("aspell is not installed"); 1 }
    case "list" :: _ => SecListsSource.list().foreach(out.println); 0
    case "pull" :: _ => SecListsSource.pull(); 0
    case "path" :: rel :: Nil => out.println(SecListsSource.path(rel)); 0
    case _ =>
      err.println("usage: graft source <pull|list [aspell]|path <rel>>"); 2
  }
}
