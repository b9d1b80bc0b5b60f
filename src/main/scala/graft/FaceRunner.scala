package graft

/** The one face loop of the drivers (Bench, Verify, TimeOne, GraphScale):
  * pick faces by name prefix, then run each as a timed attempt that
  * reports a failure with its cause instead of throwing. */
object FaceRunner {

  /** The `faces` whose names start with one of `prefixes` (every face when
    * `prefixes` is empty), sorted by name. A prefix that matches no face
    * fails, naming it: a typo must not pass for a short, clean run. */
  def select[A](faces: Iterable[(String, A)], prefixes: Seq[String]): Seq[(String, A)] = {
    val unmatched = prefixes.filterNot(p => faces.exists(_._1.startsWith(p)))
    require(unmatched.isEmpty,
      s"no face matches prefix ${unmatched.mkString("'", "', '", "'")}")
    faces.toSeq.filter { case (n, _) => prefixes.isEmpty || prefixes.exists(n.startsWith) }
      .sortBy(_._1)
  }

  /** The prefixes of an optional comma-separated argument; none when absent. */
  def prefixes(arg: Option[String]): Seq[String] =
    arg.fold(Seq.empty[String])(_.split(",").toSeq)

  /** `body` once, timed: `Right((seconds, result))`, or `Left(cause)` after
    * printing `[tag] name failed: cause` to stderr. The cause is the
    * exception's class and message, so a null message still names what
    * failed. */
  def timed[A](tag: String, name: String)(body: => A): Either[String, (Double, A)] = {
    val t0 = System.nanoTime()
    try { val a = body; Right(((System.nanoTime() - t0) / 1e9, a)) }
    catch { case e: Throwable =>
      val cause = e.toString
      Console.err.println(s"[$tag] $name failed: $cause")
      Left(cause)
    }
  }

  /** `reps` rounds over `faces`, each face's row count timed and printed as
    * `[time] <name> rep<N> <sec> s (<rows> rows)`, the line
    * tools/assemble_scale.py parses. `after("<name> rep<N>")` runs after
    * each attempt, outside the timed part. */
  def timeReps[A](faces: Seq[(String, A)], reps: Int,
      after: String => Unit = _ => ())(rows: A => Long): Unit =
    for (r <- 1 to reps; (name, face) <- faces) {
      timed("time", s"$name rep$r")(rows(face)).foreach { case (sec, n) =>
        println(f"[time] $name rep$r $sec%.3f s ($n rows)")
      }
      after(s"$name rep$r")
    }

  /** JSON string literal: escapes backslash, quote, and ALL control chars
    * (<0x20) — a tab or CR in an oracle SQL string or an exception
    * message would otherwise make a `json.load` of the artifact fail. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
