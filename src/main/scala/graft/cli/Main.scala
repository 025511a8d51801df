package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.extract.CrossrefReader
import graft.index.{FieldedIndex, PostingsBuilder}
import graft.io.TableIO

/** The reference CLI's one job, engine-native (`cmd/crossrefindexer/
  * main.go:60-140`): load crossref files → simplify → LWW-dedup by DOI →
  * index. The sink is the engine's own table build instead of an ES bulk
  * request: every mapped SimplifiedPublication field is indexed with its
  * spec'd analyzer chain (`elastic/settings.go:87-138` — DOI keyword,
  * title/journal/bibliographic text+stop, the rest folding keyword), the
  * DOI is the external doc identity (ES `_id`), and `--remove-index` maps
  * to deleting the index directory before the build (`elastic.go:71-87`). */
object Main {

  /** S3, the stdin source (`data.go:118-126`): a cluster engine cannot
    * parallel-scan a pipe, so `--file -` buffers stdin to a spooled temp
    * file once (the same single-reader constraint the reference has — one
    * goroutine reads the pipe) and indexes that. Format and compression
    * are explicit by validation (`config/config.go:61-73`); the extension
    * is synthesized from them so the downstream extension-based codec and
    * format routing behave exactly as for a real file. */
  private[cli] def spoolStdin(cfg: Cli.Config,
                              in: java.io.InputStream): String = {
    val ext = (if (cfg("format") == "json") ".json" else ".ndjson") +
      (if (cfg("compression") == "gzip") ".gz" else "")
    val tmp = java.nio.file.Files.createTempFile("graft-stdin", ext)
    java.nio.file.Files.copy(in, tmp,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    tmp.toFile.deleteOnExit()
    tmp.toString
  }

  /** Run the index job; separated from [[main]] for spec-level testing. */
  def run(spark: SparkSession, cfg: Cli.Config,
          stdin: java.io.InputStream = System.in): TableIO = {
    // Recover a mid-swap-crashed index BEFORE branching on completeness:
    // with the live dir absent and `.old` present, isComplete() is false and
    // the run would take the batch-build branch, whose build-side recovery
    // then returns the recovered index early WITHOUT ingesting the input
    // file — the CLI would exit 0 having silently dropped the bulk (the
    // reference always indexes the file, elastic/elastic.go:89-114).
    // Recovered first, the append/compact branch sees a complete index.
    graft.streaming.Compactor.finishInterruptedSwap(cfg("index-dir"))
    if (cfg.bool("remove-index")) {
      new TableIO(cfg("index-dir")).deleteAll()
      new TableIO(cfg("index-dir") + ".compact").deleteAll()
    }
    val path = cfg.get("file") match {
      case Some("-") => spoolStdin(cfg, stdin)
      case Some(f) => f
      case None => cfg.get("dir").getOrElse(
        throw Cli.CliError("Either dir or file must be provided"))
    }
    val fmt = cfg("format") match {
      case "json" => Some(CrossrefReader.DumpJson)
      case "ndjson" => Some(CrossrefReader.Ndjson)
      case _ => None
    }
    val pubs = CrossrefReader.simplified(
      spark, path, strict = cfg.bool("strict"), format = fmt)
    val idxDir = cfg("index-dir")
    val bcfg = PostingsBuilder.Config(
      shardSize = cfg.long("shard-size"),
      shardGroups = cfg.int("shard-groups"))
    // Reference semantics for a SECOND run against an existing index
    // (elastic.go:89-114 swallows "already exists", then the bulk
    // `"index"` actions ADD new DOIs and OVERWRITE re-sent ones): append
    // the file as a new epoch and compact so the LWW collapse is visible
    // immediately, like the ES doc-id overwrite. A fresh (or
    // --remove-index'd) directory takes the batch-build path.
    if (FieldedIndex.isComplete(idxDir)) {
      val io = new TableIO(idxDir)
      val epoch = io.committedSteps().collect {
        case s if s.startsWith("stream_g") => s.stripPrefix("stream_g").toLong
      }.maxOption.map(_ + 1).getOrElse(0L)
      graft.streaming.FieldedStreaming.ingestBatch(spark, pubs, idxDir,
        FieldedIndex.CrossrefMapping, keyCol = "doi", epoch, bcfg)
      graft.streaming.FieldedStreaming.compact(spark, idxDir,
        FieldedIndex.CrossrefMapping, bcfg)
      io
    } else {
      // keyCol "doi": resolves (case-insensitively) to the DOI column and
      // names the doc_map identity column in the reference's lowercase form
      FieldedIndex.build(spark, pubs, idxDir,
        FieldedIndex.CrossrefMapping, keyCol = "doi", bcfg)
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg =
      try Cli.parse(args)
      catch {
        case e: Cli.CliError =>
          System.err.println(e.getMessage)
          sys.exit(2)
      }
    val spark = Cli.session(cfg("master"), "graft-crossref-index")
    spark.sparkContext.setLogLevel(cfg("loglevel").toUpperCase)
    try run(spark, cfg)
    finally spark.stop()
  }
}
