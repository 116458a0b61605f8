package graft.pipeline

/** A growable float sample buffer: what the codecs append decoded PCM
  * to, in place of a boxed `ArrayBuffer[Float]`. Capacity doubles when
  * full; [[result]] hands back exactly the samples held.
  */
private[pipeline] final class PcmBuffer {
  private var buf = new Array[Float](1 << 12)
  private var n = 0

  /** Room for `more` samples past the `n` held. */
  private def reserve(more: Int): Unit = {
    val need = n + more
    if (need > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(need, math.min(2L * buf.length, Int.MaxValue - 8L).toInt))
  }

  def +=(x: Float): Unit = {
    if (n == buf.length) reserve(1)
    buf(n) = x
    n += 1
  }

  /** The first `count` samples of `src`. */
  def appendFrom(src: Array[Float], count: Int): Unit = {
    reserve(count)
    System.arraycopy(src, 0, buf, n, count)
    n += count
  }

  /** `count` samples of silence: slots past `n` are never written, so
    * they already hold 0.
    */
  def appendZeros(count: Int): Unit = {
    reserve(count)
    n += count
  }

  /** The samples; the buffer is done once this is called. */
  def result: Array[Float] = if (n == buf.length) buf else java.util.Arrays.copyOf(buf, n)
}
