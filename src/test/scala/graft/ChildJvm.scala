package graft

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Starts a main class of this build in a child JVM, on this JVM's
  * class path and with this JVM's `--add-opens` flags, so the list
  * lives only in build.sbt. */
object ChildJvm {
  private val addOpens = ManagementFactory.getRuntimeMXBean
    .getInputArguments.asScala.filter(_.startsWith("--add-opens")).toSeq

  def start(main: String, args: String*): Process = {
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      addOpens ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
        main) ++ args
    new ProcessBuilder(cmd: _*).inheritIO().start()
  }
}
