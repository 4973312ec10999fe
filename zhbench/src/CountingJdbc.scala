package zhbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** A JDBC driver for URLs `jdbc:count:<real url>` that delegates to the
  * real driver and counts what the write-back sink does: connections
  * opened, batches executed and rows the database reports as updated
  * (the sum of `executeBatch` update counts — the figure the reference
  * reports). Only the sink is given such a URL; reads use the real one.
  */
object CountingJdbc extends Driver {
  val Prefix = "jdbc:count:"
  val connections, batches, rowsUpdated = new AtomicLong

  private lazy val registered: Unit = DriverManager.registerDriver(this)
  def url(real: String): String = { registered; Prefix + real }

  def reset(): Unit = { connections.set(0); batches.set(0); rowsUpdated.set(0) }

  private def proxy[T](iface: Class[T], target: AnyRef)(
      hook: (Method, AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val r = try m.invoke(target, args: _*)
          catch { case e: InvocationTargetException => throw e.getCause }
          hook(m, r)
        }
      }).asInstanceOf[T]

  override def connect(url: String, info: Properties): Connection =
    if (!acceptsURL(url)) null
    else {
      val real = DriverManager.getConnection(url.stripPrefix(Prefix), info)
      connections.incrementAndGet()
      proxy(classOf[Connection], real) { (m, r) =>
        if (m.getName == "prepareStatement")
          proxy(classOf[PreparedStatement], r) { (m2, r2) =>
            if (m2.getName == "executeBatch") {
              batches.incrementAndGet()
              rowsUpdated.addAndGet(r2.asInstanceOf[Array[Int]].map(_.max(0).toLong).sum)
            }
            r2
          }
        else r
      }
    }

  override def acceptsURL(url: String): Boolean = url != null && url.startsWith(Prefix)
  override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
    Array.empty
  override def getMajorVersion: Int = 1
  override def getMinorVersion: Int = 0
  override def jdbcCompliant(): Boolean = false
  override def getParentLogger: java.util.logging.Logger =
    java.util.logging.Logger.getLogger("zhbench")
}
