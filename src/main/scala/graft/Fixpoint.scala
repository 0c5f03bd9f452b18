package graft

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, DataFrame, Row}

/** The one convergence-checked loop of the library's iterative operators
  * (connected components, the k-core and k-truss peels, weighted shortest
  * paths, converged label propagation, the taxonomy closure).
  *
  * Round i pins `step(state_{i-1})` through [[Pin.observed]], so the
  * round's exact convergence `metrics` are aggregated by the pin's own job
  * and a round costs that job (plus its exchanges) and no other action.
  * The pinned relation is the next round's state, which also cuts the
  * iterated lineage. The loop stops at the first round whose observed row
  * passes `done` and returns that round's pinned relation. An operator
  * whose test compares two consecutive rounds carries the previous value
  * as a column of its state, so every test reads one row.
  *
  * `maxRounds` is a THROWING runaway bound, never a silent truncation: a
  * truncated star forest, peel or relaxation is a wrong answer with no
  * error. Past it the loop throws an `IllegalStateException` naming `what`.
  */
private[graft] object Fixpoint {
  def apply(what: String, maxRounds: Int, init: DataFrame, metrics: Seq[Column])(
      step: DataFrame => DataFrame)(done: Row => Boolean): DataFrame = {
    @tailrec def round(state: DataFrame, i: Int): DataFrame = {
      if (i > maxRounds) throw new IllegalStateException(
        s"$what not converged after $maxRounds rounds — raise the bound; " +
          "refusing to return a truncated result")
      val (next, row) = Pin.observed(s"$what round $i", step(state), metrics: _*)
      if (done(row)) next else round(next, i + 1)
    }
    round(init, 1)
  }
}
