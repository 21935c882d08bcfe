package graft.rpc

import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}

/** A localhost "node" that accepts connections and never answers — a
  * provider hung mid-request. `accepted` opens on the first connection,
  * so a spec can act while a request is known to be in flight. */
final class HungEndpoint extends AutoCloseable {
  private val server = new ServerSocket(0, 16, InetAddress.getLoopbackAddress)
  private val held = new ConcurrentLinkedQueue[Socket]()
  val accepted = new CountDownLatch(1)
  private val acceptor = new Thread(() =>
    try while (true) { held.add(server.accept()); accepted.countDown() }
    catch { case _: java.io.IOException => () }) // closed
  acceptor.setDaemon(true)
  acceptor.start()

  def url: String = s"http://127.0.0.1:${server.getLocalPort}/"

  override def close(): Unit = { server.close(); held.forEach(_.close()) }
}
