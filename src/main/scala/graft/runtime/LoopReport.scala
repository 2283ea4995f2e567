package graft.runtime

/** Convergence report for iterative DataFrame operators (north rule: the
  * lineage/counters table is where an operator surfaces truncation — a warn
  * log alone is invisible to a driver reading `_lineage`).
  *
  * An iterative op that decides a stage ([[graft.canonical.NastyLinker]]
  * in `subjects_ed`, [[graft.taxonomy.Closure]] in `types`) fills the
  * fields as a side effect of running; [[StageRunner]] copies them into the
  * stage's lineage row. `rounds = -1` means "stage ran no iterative op".
  */
final class LoopReport {
  @volatile var rounds: Long = -1L
  @volatile var converged: Boolean = true
}
