package lakebench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, ResultSet, Statement}
import java.util.Properties
import java.util.concurrent.atomic.AtomicLong

/** Catalog timing for the traced run: a JDBC driver that registers ahead of
  * Derby's and wraps every Connection, Statement and ResultSet it hands out,
  * counting statements and the time spent in them (including ResultSet
  * reads). `graft.lake.MetadataStore` opens its connections through
  * `DriverManager`, which asks drivers in registration order, so the shim
  * sees every catalog statement without a change to the program.
  */
object CatalogShim {
  private val stmts = new AtomicLong
  private val nanos = new AtomicLong

  /** (statements, nanoseconds) since the JVM started. */
  def snapshot: (Long, Long) = (stmts.get, nanos.get)

  /** Must run before anything loads a JDBC driver: `DriverManager` loads
    * the service-registered drivers (Derby's among them) on its first
    * lookup and appends them after the ones already registered.
    */
  def install(): Unit = DriverManager.registerDriver(ShimDriver)

  private object ShimDriver extends Driver {
    private lazy val derby: Driver =
      Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
        .getDeclaredConstructor().newInstance().asInstanceOf[Driver]
    def acceptsURL(url: String): Boolean = url.startsWith("jdbc:derby:")
    def connect(url: String, info: Properties): Connection =
      if (!acceptsURL(url)) null
      else wrap(classOf[Connection], derby.connect(url, info))
    def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
      derby.getPropertyInfo(url, info)
    def getMajorVersion: Int = derby.getMajorVersion
    def getMinorVersion: Int = derby.getMinorVersion
    def jdbcCompliant(): Boolean = derby.jdbcCompliant()
    def getParentLogger: java.util.logging.Logger = derby.getParentLogger
  }

  private def wrap[T](iface: Class[T], target: AnyRef): T =
    if (target == null) null.asInstanceOf[T]
    else Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
      new Handler(target)).asInstanceOf[T]

  /** The interface a returned JDBC object is proxied as, if it is one the
    * shim follows.
    */
  private def followed(c: Class[_]): Option[Class[_]] =
    Seq(classOf[java.sql.CallableStatement], classOf[java.sql.PreparedStatement],
      classOf[Statement], classOf[ResultSet]).find(_.isAssignableFrom(c))

  private final class Handler(target: AnyRef) extends InvocationHandler {
    private val isResultSet = target.isInstanceOf[ResultSet]

    def invoke(proxy: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
      val name = m.getName
      val timed = if (isResultSet) name == "next" else name.startsWith("execute")
      val t0 = System.nanoTime()
      val out = try m.invoke(target, args: _*) catch {
        case e: InvocationTargetException => throw e.getCause
      } finally if (timed) {
        nanos.addAndGet(System.nanoTime() - t0)
        if (!isResultSet) stmts.incrementAndGet()
      }
      // unwrap(iface) must keep handing out the real object (Derby-specific
      // interfaces), and only objects made by a followed call are wrapped
      if (out == null || name == "unwrap") out
      else followed(m.getReturnType).filter(_.isInstance(out))
        .map(i => wrap(i.asInstanceOf[Class[AnyRef]], out).asInstanceOf[AnyRef])
        .getOrElse(out)
    }
  }
}
