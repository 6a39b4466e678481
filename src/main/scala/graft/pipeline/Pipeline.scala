package graft.pipeline

import java.nio.file.{Files, Paths}

/** §3.1 orchestration: a task DAG with Luigi's file-target semantics —
  * a task is *complete* iff every declared output is complete, complete
  * tasks are skipped wholesale, incomplete tasks first ensure their
  * dependencies then run (create_solution.py:67-69 and every Luigi
  * `output()`/`requires()` pair). Resume-after-partial-failure works by
  * construction: whatever produced its outputs stays skipped.
  *
  * An output is complete when it is a file that exists, or a directory
  * holding `_SUCCESS`. A Spark write creates its directory (with
  * `_temporary/`) when the job starts and writes `_SUCCESS` only on
  * commit, so a crash mid-write leaves the task incomplete. Driver-side
  * files must be written atomically (`Sources` writes a temp file and
  * renames it), so an existing file is always a whole one.
  */
object Pipeline {

  final case class Task(
      name: String,
      outputs: Seq[String],
      deps: Seq[Task] = Seq.empty)(val run: () => Unit)

  /** `seconds`: wall seconds of each task that ran, its own `run` only
    * (dependencies are timed separately) — the reference's `@timing`
    * log line per stage (generic_tools/utils.py:20-45). */
  final case class Report(ran: Seq[String], skipped: Seq[String],
      seconds: Map[String, Double] = Map.empty)

  def complete(t: Task): Boolean =
    t.outputs.nonEmpty && t.outputs.forall { o =>
      val p = Paths.get(o)
      if (Files.isDirectory(p)) Files.exists(p.resolve("_SUCCESS")) else Files.exists(p)
    }

  /** Post-order execution with memoized completeness. */
  def execute(roots: Task*): Report = {
    val ran = scala.collection.mutable.ListBuffer.empty[String]
    val skipped = scala.collection.mutable.ListBuffer.empty[String]
    val seconds = scala.collection.mutable.Map.empty[String, Double]
    val visited = scala.collection.mutable.Set.empty[String]
    def go(t: Task): Unit = {
      if (visited.contains(t.name)) return
      visited += t.name
      if (complete(t)) { skipped += t.name; return }
      t.deps.foreach(go)
      t.outputs.foreach(o => Option(Paths.get(o).getParent).foreach(Files.createDirectories(_)))
      val t0 = System.nanoTime()
      t.run()
      seconds(t.name) = (System.nanoTime() - t0) / 1e9
      require(complete(t),
        s"task ${t.name} ran but did not produce its declared outputs: ${t.outputs}")
      ran += t.name
    }
    roots.foreach(go)
    Report(ran.toSeq, skipped.toSeq, seconds.toMap)
  }
}
