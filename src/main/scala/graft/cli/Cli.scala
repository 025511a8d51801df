package graft.cli

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** CLI/config layer — the engine analogue of the reference's kong-based CLI
  * (`config/config.go:15-24` flag surface, `:27-53` parse + validator chain,
  * `:55-73` path/format/compression validators; env binding per field as in
  * `elastic/elastic.go:22-33`).
  *
  * Hand-rolled `--flag value` parser (the sandbox resolves no third-party
  * dependencies): every flag has an optional `GRAFT_*` environment fallback
  * (flag wins over env wins over default — kong's precedence), unknown flags
  * and enum violations fail with a usage string, and the reference's
  * stdin-requires-explicit-format/compression rule maps to the same rule for
  * piped single-file input.
  */
object Cli {

  final case class Spec(
      name: String,
      help: String,
      default: Option[String] = None,
      env: Option[String] = None,
      enum: Seq[String] = Nil)

  /** Flag surface (reference `config/config.go:15-24` + the engine's own
    * index knobs standing in for the `es.*` sink block). */
  val Specs: Seq[Spec] = Seq(
    Spec("file", "Path to a single file to index ('-' = stdin-piped file)",
      env = Some("GRAFT_FILE")),
    Spec("dir", "Directory of files to index", env = Some("GRAFT_DIR")),
    Spec("format", "json | ndjson | unknown (sniffed when unknown)",
      default = Some("unknown"), env = Some("GRAFT_FORMAT"),
      enum = Seq("unknown", "json", "ndjson")),
    Spec("compression", "unknown | none | gzip (by extension when unknown)",
      default = Some("unknown"), env = Some("GRAFT_COMPRESSION"),
      enum = Seq("unknown", "none", "gzip")),
    Spec("index-dir", "Index table directory (the ES index analogue)",
      default = Some("./graft-index"), env = Some("GRAFT_INDEX_DIR")),
    Spec("remove-index", "Delete the existing index first (no prompt)",
      default = Some("false"), env = Some("GRAFT_REMOVE_INDEX"),
      enum = Seq("true", "false")),
    Spec("shard-size", "Docs per index shard", default = Some("1048576"),
      env = Some("GRAFT_SHARD_SIZE")),
    Spec("shard-groups", "Postings stage checkpoint granularity",
      default = Some("1"), env = Some("GRAFT_SHARD_GROUPS")),
    Spec("strict", "FAILFAST parse (false = PERMISSIVE + dead letters)",
      default = Some("true"), env = Some("GRAFT_STRICT"),
      enum = Seq("true", "false")),
    Spec("loglevel", "debug | info | warn | error", default = Some("info"),
      env = Some("GRAFT_LOGLEVEL"),
      enum = Seq("debug", "info", "warn", "error")),
    Spec("master", "Spark master", default = Some("local[*]"),
      env = Some("GRAFT_MASTER")))

  final case class Config(values: Map[String, String]) {
    def apply(name: String): String = values(name)
    def get(name: String): Option[String] = values.get(name).filter(_.nonEmpty)
    def bool(name: String): Boolean = values(name) == "true"
    def long(name: String): Long = values(name).toLong
    def int(name: String): Int = values(name).toInt
  }

  final case class CliError(message: String)
      extends RuntimeException(message + "\n\n" + usage)

  lazy val usage: String = {
    val rows = Specs.map { s =>
      val d = s.default.map(v => s" (default: $v)").getOrElse("")
      val e = s.env.map(v => s" [$$$v]").getOrElse("")
      f"  --${s.name}%-14s ${s.help}$d$e"
    }
    ("usage: graft [--flag value ...]\n\nIndex Crossref metadata into the " +
      "engine's native tables.\nReads files, directories and piped input; " +
      "raw or gzipped JSON/NDJSON.\n\n") + rows.mkString("\n")
  }

  /** Parse argv with env fallback; fail on unknown flags, missing values,
    * or enum violations (kong's UsageOnError behavior). */
  def parse(args: Array[String],
            env: Map[String, String] = sys.env): Config = {
    val byName = Specs.map(s => s.name -> s).toMap
    val out = mutable.Map.empty[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--"))
        throw CliError(s"unexpected positional argument: $a")
      val name = a.stripPrefix("--")
      val spec = byName.getOrElse(name,
        throw CliError(s"unknown flag: --$name"))
      if (i + 1 >= args.length)
        throw CliError(s"missing value for --$name")
      out(spec.name) = args(i + 1)
      i += 2
    }
    for (s <- Specs if !out.contains(s.name)) {
      s.env.flatMap(env.get) match {
        case Some(v) => out(s.name) = v
        case None => s.default.foreach(out(s.name) = _)
      }
    }
    for (s <- Specs; v <- out.get(s.name)
         if s.enum.nonEmpty && !s.enum.contains(v))
      throw CliError(
        s"--${s.name} must be one of ${s.enum.mkString(", ")}; got '$v'")
    val cfg = Config(out.toMap)
    validate(cfg)
    cfg
  }

  /** The Spark session every CLI main runs on: `master`, `appName`, 32
    * shuffle partitions, UTC session time, no UI. */
  def session(master: String, appName: String): SparkSession =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The reference's validator chain (`config/config.go:55-73`). */
  private def validate(c: Config): Unit = {
    if (c.get("file").isEmpty && c.get("dir").isEmpty)
      throw CliError("Either dir or file must be provided")
    if (c.get("file").contains("-") && c("format") == "unknown")
      throw CliError("Format must be specified when reading from stdin")
    if (c.get("file").contains("-") && c("compression") == "unknown")
      throw CliError("Compression must be specified when reading from stdin")
  }
}
