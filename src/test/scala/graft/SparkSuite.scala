package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for test suites (one per suite, lazy). */
trait SparkSuite { self: AnyFunSuite =>
  lazy val spark: SparkSession = LocalSession(4, getClass.getSimpleName)

  def tempDir(prefix: String): java.nio.file.Path = TempDirs.tempDir(prefix)
}

/** Temp dirs that are recursively deleted on JVM exit — suites otherwise
  * accumulate rewritten fixture copies across test runs. */
object TempDirs {
  def tempDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      import java.nio.file._
      import java.util.Comparator
      try Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.deleteIfExists(f))
      catch { case _: Throwable => () } // best-effort cleanup
    }))
    p
  }
}
