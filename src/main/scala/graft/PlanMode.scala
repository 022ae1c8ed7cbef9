package graft

import scala.util.DynamicVariable

/** Plan-only scope for the plan dumper (r12, r11 ADVICE).
  *
  * Several operators persist a shared intermediate (exact-class frames,
  * member maps, cell counts) and eagerly `count()` it AT QUERY-BUILD
  * time, because their consumers launch concurrently and an
  * unmaterialized cache makes each racing consumer duplicate the full
  * upstream pass (measured in r11: seven racing ~40 s corpus aggregates
  * in q143 before the eager count). The side effect: merely BUILDING
  * such a query executes jobs, so a plan dump would silently pay full
  * corpus aggregations per query.
  *
  * [[graft.tools.Plans]] builds its queries inside `planOnly { ... }`:
  * the eager counts are skipped there — building a query then runs no
  * jobs — while every other path (Bench, Verify, ScaleCheck, the
  * pipeline), and all code outside the block, keeps the race-proof
  * materialization. PlanModeSpec pins both sides.
  */
object PlanMode {
  private val scope = new DynamicVariable(false)

  /** Runs `body` with eager materialization skipped on this thread. */
  def planOnly[T](body: => T): T = scope.withValue(true)(body)

  /** Persist `df` and, unless inside [[planOnly]], materialize it now so
    * concurrent consumers read the cache instead of racing to build it. */
  def eager[T](ds: org.apache.spark.sql.Dataset[T]): ds.type = {
    ds.persist()
    if (!scope.value) ds.count()
    ds
  }
}
