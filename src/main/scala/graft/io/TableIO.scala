package graft.io

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Iceberg-semantics table layout over Parquet directories (SURVEY.md §1.4).
  *
  * The sandbox ships no Iceberg runtime (verified: /opt/spark/jars has
  * Parquet 1.16 + Avro only, coursier offline), so this seam implements the
  * Iceberg behaviors the north_rule needs — atomic snapshot commit,
  * idempotent re-run, checkpoint resume — over plain directories:
  *
  *   indexDir/
  *     postings/ term_stats/ stats/ doc_map/ lineage/   (parquet tables)
  *     _snapshot/snap-<id>.json      (manifest: completed steps)
  *     _snapshot/CURRENT             (atomic pointer, rename-committed)
  *
  * A build step is visible iff the CURRENT manifest lists it, and CURRENT is
  * advanced by write-temp-then-atomic-rename, so a killed build never
  * publishes partial state and a restarted build resumes from the last
  * committed step (mirror of the reference's idempotent index DDL,
  * elastic/elastic.go:89-114 "already exists" swallowed). Swapping in real
  * `iceberg-spark-runtime` later replaces this file, not the engine.
  */
final class TableIO(val indexDir: String) extends Serializable {
  def tablePath(name: String): String = s"$indexDir/$name"

  private def snapDir: Path = Paths.get(indexDir, "_snapshot")
  private def currentPtr: Path = snapDir.resolve("CURRENT")

  /** Manifest contents: (steps, properties). Format: header line, then one
    * entry per line — `prop <key> <value>` lines are snapshot PROPERTIES
    * (small metadata facts carried by the snapshot, e.g. `max_doc_id`:
    * streamed ingest reads the next free doc id here instead of scanning a
    * corpus-sized table per micro-batch), everything else is a step name.
    * Manifests written before properties existed simply have none. */
  private def readManifest(): (Set[String], Map[String, String]) = {
    if (!Files.exists(currentPtr)) return (Set.empty, Map.empty)
    val id = Files.readString(currentPtr).trim
    val snap = snapDir.resolve(s"snap-$id.json")
    if (!Files.exists(snap)) return (Set.empty, Map.empty)
    val lines = Files.readAllLines(snap).asScala.drop(1)
      .map(_.trim).filter(_.nonEmpty)
    val (propLines, stepLines) = lines.partition(_.startsWith("prop "))
    val props = propLines.map { l =>
      val parts = l.split(" ", 3)
      parts(1) -> (if (parts.length > 2) parts(2) else "")
    }.toMap
    (stepLines.toSet, props)
  }

  /** Completed step names in the current snapshot (empty if none). */
  def committedSteps(): Set[String] = readManifest()._1

  /** Snapshot properties of the current snapshot. */
  def props(): Map[String, String] = readManifest()._2

  def prop(key: String): Option[String] = props().get(key)

  def currentSnapshotId(): Option[String] =
    if (Files.exists(currentPtr)) Some(Files.readString(currentPtr).trim)
    else None

  /** Globally-unique token of the current snapshot (the manifest header's
    * uuid). Snapshot IDS are small per-directory integers, so after a
    * compaction swaps a fresh directory in, the new manifest's id can
    * EQUAL the old one — anything caching "have I seen this index state"
    * (the fielded handle cache) must key on this token, not the id. */
  def snapshotToken(): Option[String] =
    currentSnapshotId().flatMap { id =>
      val snap = snapDir.resolve(s"snap-$id.json")
      if (!Files.exists(snap)) None
      else Files.readAllLines(snap).asScala.headOption
    }

  /** Commit `steps` as the new snapshot (monotonic id). Atomic: manifest is
    * fully written before CURRENT is renamed over. Synchronized so
    * concurrent [[stepsPar]] bodies commit without losing each other's
    * steps. */
  def commit(steps: Set[String]): String = commit(steps, Map.empty)

  /** Commit `steps` plus property updates (merged over the current
    * snapshot's properties — existing props are always carried forward, so
    * a plain commit() never loses them). */
  def commit(steps: Set[String], newProps: Map[String, String]): String =
    synchronized {
    Files.createDirectories(snapDir)
    val prev = currentSnapshotId().map(_.toLong).getOrElse(-1L)
    val merged = readManifest()._2 ++ newProps
    val id = (prev + 1).toString
    val snap = snapDir.resolve(s"snap-$id.json")
    // header carries a unique commit token (see snapshotToken)
    val body = (s"snapshot $id ${java.util.UUID.randomUUID()}" +:
      (merged.toSeq.sorted.map { case (k, v) => s"prop $k $v" } ++
        steps.toSeq.sorted)).mkString("\n")
    Files.writeString(snap, body)
    val tmp = snapDir.resolve(s"CURRENT.tmp$id")
    Files.writeString(tmp, id)
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    id
  }

  /** Atomic read-modify-write commit of one step — the ONLY correct way to
    * commit when steps may complete concurrently ([[stepsPar]]): reading
    * committedSteps outside the lock loses a concurrent finisher's step. */
  def commitStep(name: String): String =
    synchronized { commit(committedSteps() + name) }

  /** Atomically commit one step AND property updates in the same snapshot —
    * the visibility point for both (e.g. a streamed batch's `stream_g<b>`
    * step and the new `max_doc_id`: committing them separately would let a
    * crash between the two break replay id-stability). */
  def commitStep(name: String, newProps: Map[String, String]): String =
    synchronized { commit(committedSteps() + name, newProps) }

  /** Run `body` unless `step` is already committed; commit it after.
    * Per-step wall time goes to stderr when GRAFT_STEP_TIMING is set —
    * the knob the scaling benchmark uses to find serial sections. */
  def step(name: String)(body: => Unit): Unit =
    stepProps(name) { body; Map.empty }

  /** [[step]] for a body that returns snapshot properties: they commit in
    * the same snapshot as the step (see [[commitStep]]). */
  def stepProps(name: String)(body: => Map[String, String]): Unit = {
    if (!committedSteps().contains(name)) {
      val t0 = System.nanoTime()
      commitStep(name, body)
      if (sys.env.contains("GRAFT_STEP_TIMING"))
        System.err.println(
          f"[TableIO] step $name%-14s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
    }
  }

  /** Handle on a group of asynchronously-running steps ([[stepsAsync]]):
    * [[join]] is the barrier, rethrowing the first member failure. */
  final class StepGroup private[TableIO] (
      threads: Seq[Thread],
      failures: java.util.concurrent.ConcurrentHashMap[String, Throwable]) {
    def join(): Unit = {
      threads.foreach(_.join())
      if (!failures.isEmpty) {
        val k = failures.keys().nextElement()
        throw new RuntimeException(s"parallel step '$k' failed", failures.get(k))
      }
    }
  }

  /** START independent steps concurrently (driver threads; Spark schedules
    * their jobs in parallel) and return WITHOUT waiting — the caller
    * overlaps them with its own work and [[StepGroup.join]]s at the point
    * that really needs them. Each step commits as it finishes, so a crash
    * mid-group resumes with only the unfinished members re-run. */
  def stepsAsync(steps: (String, () => Unit)*): StepGroup = {
    val done = committedSteps()
    val todo = steps.filterNot { case (n, _) => done.contains(n) }
    val failures = new java.util.concurrent.ConcurrentHashMap[String, Throwable]()
    val t0 = System.nanoTime()
    val threads = todo.map { case (name, body) =>
      val t = new Thread(() => {
        try {
          body()
          commitStep(name)
          if (sys.env.contains("GRAFT_STEP_TIMING"))
            System.err.println(
              f"[TableIO] par-step $name%-14s ${(System.nanoTime() - t0) / 1e9}%7.2fs")
        } catch { case e: Throwable => failures.put(name, e) }
      }, s"graft-step-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    new StepGroup(threads, failures)
  }

  /** Run independent steps concurrently and WAIT — barrier latency of k
    * steps collapses from k·t to ~t. Prefer [[stepsAsync]] when a heavy
    * sibling stage can absorb the group entirely. */
  def stepsPar(steps: (String, () => Unit)*): Unit =
    stepsAsync(steps: _*).join()

  def isComplete(finalStep: String): Boolean =
    committedSteps().contains(finalStep)

  def deleteAll(): Unit = {
    val root = Paths.get(indexDir)
    if (Files.exists(root)) {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
  }
}
