package graft.xmq

/** One reusable output buffer per thread for the printers. A printer
  * appends into the borrowed builder and the caller copies the result out
  * once (or compares it in place), so a warm thread prints a document
  * without growing a fresh buffer by repeated copies. A nested print on the
  * same thread finds the slot empty and gets a builder of its own. */
object PrintBuffer {
  /** builders that grew past this many chars are dropped after use, so an
    * idle thread pins at most this much. */
  private val MaxRetainedChars = 1 << 18

  private val slot = new ThreadLocal[java.lang.StringBuilder]

  def borrow(): java.lang.StringBuilder = {
    val sb = slot.get()
    if (sb == null) new java.lang.StringBuilder(1024)
    else { slot.set(null); sb.setLength(0); sb }
  }

  def release(sb: java.lang.StringBuilder): Unit =
    if (sb.capacity <= MaxRetainedChars) slot.set(sb)

  /** the text `body` appends to a borrowed builder. */
  def print(body: java.lang.StringBuilder => Unit): String = {
    val sb = borrow()
    try { body(sb); sb.toString } finally release(sb)
  }
}
