package graft.tools

/** Waits for a SparkListener's async events to land. The listener bus
  * delivers on its own thread, and `listenerBus.waitUntilEmpty` is not
  * public API, so this polls `size` (the listener's event count) until
  * it stops growing for two consecutive 250 ms intervals, capped at 5 s.
  * A fixed sleep can miss the largest stages' events on a loaded host
  * (r11 ADVICE).
  */
object ListenerDrain {
  def await(size: => Int): Unit = {
    var (prev, stable, waited) = (-1, 0, 0)
    while (stable < 2 && waited < 5000) {
      Thread.sleep(250); waited += 250
      val n = size
      if (n == prev) stable += 1 else { stable = 0; prev = n }
    }
  }
}
