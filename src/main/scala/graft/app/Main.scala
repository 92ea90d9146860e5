package graft.app

import org.apache.spark.sql.SparkSession

import graft.enrich.Enrich
import graft.model.{PipelineConfig, SinkRule}
import graft.pipeline.{Pipeline, Transcripts}

/** spark-submit entry point for the transcripts pipeline.
  *
  * Usage:
  *   graft.app.Main INPUT_DIR OUTPUT_ROOT [--check] [--run-ts MILLIS]
  *     [--salt-buckets N] [--shuffle-partitions N] [--run-id ID]
  *
  * `--check` validates the config and prints the resolved routes and the
  * optimized plan WITHOUT touching input data — the reference's `--check`
  * mode (log-ship/src/main.rs:82-91). On a cluster, submit with
  * `spark-submit --class graft.app.Main` at N and 4N executors; locally the
  * master defaults to local[*].
  */
object Main {

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    if (positional.length < 2) {
      System.err.println("usage: graft.app.Main INPUT_DIR OUTPUT_ROOT [--check] ...")
      sys.exit(2)
    }
    def flag(name: String): Boolean = args.contains(s"--$name")
    def opt(name: String): Option[String] =
      args.sliding(2).collectFirst { case Array(k, v) if k == s"--$name" => v }

    val cfg = PipelineConfig.default(positional(0), positional(1),
        opt("run-ts").map(_.toLong).getOrElse(Transcripts.RunTsMillis))
      .copy(
        saltBuckets = opt("salt-buckets").map(_.toInt).getOrElse(32),
        shufflePartitions = opt("shuffle-partitions").map(_.toInt).getOrElse(0),
        runId = opt("run-id").getOrElse("run-0"))

    cfg.validate() match {
      case Left(err) =>
        System.err.println(s"config error: $err") // fail fast (config_file.rs:32-80)
        sys.exit(1)
      case Right(_) =>
    }

    val builder = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
    // spark-submit injects the master; default to all local cores otherwise
    val spark = (if (sys.props.contains("spark.master") ||
        sys.env.contains("SPARK_MASTER")) builder
      else builder.master("local[*]")
        .config("spark.sql.shuffle.partitions",
          Runtime.getRuntime.availableProcessors.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (flag("check")) {
      println(s"routes (${cfg.sinks.size} rules + default '${cfg.defaultSink}' " +
        s"+ quarantine '${cfg.quarantineSink}'):")
      cfg.sinks.foreach { case SinkRule(name, pred) => println(f"  $name%-12s <- $pred") }
      // resolved format table: built-in dictionary entries + config-declared
      // FormatSpecs, in match priority order (the reference's --check prints
      // the resolved plugin registry the same way, main.rs:82-91)
      println(s"formats (${graft.parse.PatternDictionary.Formats.size} built-in " +
        s"+ ${cfg.formats.size} from config, in match order):")
      graft.parse.PatternDictionary.Formats.foreach(f => println(f"  $f%-12s (built-in)"))
      cfg.formats.foreach { f =>
        val gate = (f.gatePrefix.map(p => s"startsWith('$p')") ++
          f.gateContains.map(c => s"contains('$c')")).mkString(" && ")
        println(f"  ${f.name}%-12s gate=${if (gate.isEmpty) "(none)" else gate} " +
          s"regex=${f.regex} fields=${f.fields.map(x => s"${x.name}:g${x.group}:${x.cast}").mkString(",")}" +
          f.ts.map(t => s" ts=g${t.group}:'${t.pattern}':${t.unit}").getOrElse(""))
      }
      println(s"input:  ${cfg.inputPath}")
      println(s"output: ${cfg.outputRoot}")
      println(s"runTs=${cfg.runTsMillis} saltBuckets=${cfg.saltBuckets} " +
        s"shufflePartitions=${cfg.shufflePartitions}")
      // resolved plan over an empty frame with the contract schema: config
      // and plan validation with zero input IO
      val empty = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        Pipeline.InputSchema)
      Pipeline.transform(empty, cfg, Enrich.defaultLookup(spark)).explain("formatted")
    } else {
      val report = Pipeline.run(spark, cfg)
      println(s"""{"run_id":"${cfg.runId}","rows":${report.totalRows},""" +
        s""""wall_ms":${report.wallMs},"turns_per_sec":${report.turnsPerSec},""" +
        s""""sinks":{${report.sinks.map(s => s""""${s.sink}":${s.rows}""").mkString(",")}}}""")
    }
    spark.stop()
  }
}
