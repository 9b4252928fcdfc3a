package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** One request of a workload: the query it runs and its input. */
final case class Request(input: String, query: String)

/** One timed request: start and end in ns since the window opened and,
  * if it threw, the exception class and message. */
final case class Record(id: Int, request: Request, startNs: Long, endNs: Long,
    error: Option[(String, String)])

/** One client in a closed loop: the next request is sent only when the
  * previous one has returned. */
object ClosedLoop {

  /** Runs `requests` in order until `seconds` have passed and the last
    * block of `block` requests is complete, so that in a block-permuted
    * sequence every query of the workload appears equally often in the
    * window; or until `requests` runs out (`seconds` may be infinite).
    * A request that throws keeps its latency and its error; it is never
    * dropped from the sample. Returns the records and the window length
    * in ns. */
  def run(requests: Iterator[Request], block: Int, seconds: Double)(
      exec: (Int, Request) => Unit): (Seq[Record], Long) = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[Record]
    while (requests.hasNext &&
        (out.isEmpty || out.size % block != 0 || System.nanoTime() - t0 < seconds * 1e9)) {
      val r = requests.next()
      val id = out.size
      val s = System.nanoTime()
      val error =
        try { exec(id, r); None }
        catch { case NonFatal(e) => Some(e.getClass.getName -> String.valueOf(e.getMessage)) }
      out += Record(id, r, s - t0, System.nanoTime() - t0, error)
    }
    (out.toSeq, out.lastOption.fold(0L)(_.endNs))
  }
}
