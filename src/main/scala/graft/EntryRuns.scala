package graft

/** The failure rule the harness mains (`Bench`, `Verify`, `ScaleBench`)
  * share: an entry that throws is logged, named in `failed` and left out
  * of `ok`, so its time-to-failure never counts as a timing and its
  * missing output never passes silently. Each caller writes its output,
  * then exits 1 when `failed` is non-empty. */
object EntryRuns {

  final case class Outcome[A](ok: Seq[(String, A)], failed: Seq[String]) {
    def failedJson: String = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
  }

  /** Runs `body` once per name, in order; logs each failure as
    * `[tag] name failed: message`. */
  def run[A](names: Seq[String], tag: String,
             log: String => Unit = System.err.println(_))(body: String => A): Outcome[A] = {
    val ok = Vector.newBuilder[(String, A)]
    val failed = Vector.newBuilder[String]
    names.foreach { name =>
      try ok += name -> body(name)
      catch { case e: Throwable =>
        failed += name
        log(s"[$tag] $name failed: ${e.getMessage}")
      }
    }
    Outcome(ok.result(), failed.result())
  }
}
