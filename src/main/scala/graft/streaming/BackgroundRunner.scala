package graft.streaming

import org.apache.spark.sql.streaming.StreamingQuery

/** Background-segment runner — streaming parity for the reference's
  * `background` composition type (`/root/reference/index.js:150-151,
  * 167-173`): stages run concurrently with the main pipeline and are
  * destroyed when it ends.
  *
  * Usage:
  * {{{
  * BackgroundRunner.withBackground(sideDf.writeStream...) { // queries started
  *   mainAction()                                           // main pipeline
  * }                                                        // side queries stopped
  * }}}
  */
object BackgroundRunner {

  /** Start the given streaming sinks, run the main action, then stop the
    * side queries in a finally — `parallel([main, bkgds])` +
    * destroy-on-end parity (index.js:167-173).
    */
  def withBackground[T](starters: (() => StreamingQuery)*)(main: => T): T = {
    val queries = starters.map(_.apply())
    try main
    finally queries.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }
  }
}
