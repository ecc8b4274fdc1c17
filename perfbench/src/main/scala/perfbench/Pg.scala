package perfbench

import scala.sys.process._

/** The benchmark's own Postgres server: a data directory inside the
  * benchmark's work directory, reachable only over TCP on 127.0.0.1.
  * `prefix` runs the server commands as a non-root user (Postgres
  * refuses to run as root); it is empty when the benchmark is not root.
  */
final class Pg(dataDir: String, val port: Int, prefix: Seq[String]) {
  val host = "127.0.0.1"
  val db = "postgres"

  private def ctl(args: String*): Unit = {
    val rc = (prefix ++ Seq("pg_ctl", "-D", dataDir) ++ args).!
    require(rc == 0, s"pg_ctl ${args.last} failed with exit $rc")
  }

  def start(): Unit = ctl("-o", s"-p $port -k '' -c listen_addresses=$host",
    "-l", s"$dataDir/server.log", "-w", "start")

  def stop(): Unit = ctl("-m", "fast", "-w", "stop")

  def running: Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(dataDir, "postmaster.pid"))

  /** One statement through psql; its trimmed output. */
  def sql(q: String): String =
    Seq("psql", "-h", host, "-p", port.toString, "-d", db,
      "-v", "ON_ERROR_STOP=1", "-Atc", q).!!.trim

  def long(q: String): Long = sql(q).toLong
}
