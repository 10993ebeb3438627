package graft.core

import org.apache.spark.TaskContext

/** The task-scoped lifecycle of the pluggable seams ([[FetchSource]],
  * the media `Decoder`): ONE resource per Spark task, created inside
  * the task by the factory on that task's first row and closed by a
  * task-completion listener (Spark runs it once per task), so a task
  * that stops consuming early (limit/take/show) or fails still closes
  * its resource. Spark gives every task its own deserialized copy of
  * the plan, so one instance serves one task at a time; the owner check
  * still opens a fresh resource if a copy is reused by a later task.
  * Outside a task (a plain unit test) there is no listener, so each row
  * opens and closes its own resource. */
final class TaskScoped[S <: AutoCloseable](factory: () => S) {
  private var res: S = _
  private var owner: TaskContext = _

  def use[T](f: S => T): T = {
    val tc = TaskContext.get()
    if (tc == null) {
      val once = factory()
      try f(once) finally once.close()
    } else {
      if (owner ne tc) {
        val opened = factory()
        tc.addTaskCompletionListener[Unit](_ => opened.close())
        res = opened
        owner = tc
      }
      f(res)
    }
  }
}
