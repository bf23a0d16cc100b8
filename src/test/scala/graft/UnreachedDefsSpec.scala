package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import scala.sys.process._

/** Every `src/main` def is reached from a production entry point: the
  * reachability audit `tools/unreached_defs.py` lists nothing outside its
  * KEEP table, so code that only tests call cannot enter `src/main`. */
class UnreachedDefsSpec extends AnyFunSuite {

  test("tools/unreached_defs.py lists no src/main def outside KEEP") {
    val root = Iterator.iterate(new File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new File(d, "tools/unreached_defs.py").isFile)
      .getOrElse(fail("no tools/unreached_defs.py above the working directory"))
    val out = new StringBuilder
    val exit = Process(Seq("python3", "tools/unreached_defs.py"), root)
      .!(ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n')))
    val lines = out.toString.linesIterator.toSeq
    // each listed def is a `path:line  Owner.name` line followed by one
    // indented line: its KEEP reason, or the tests that mention it
    val listed = lines.zip(lines.drop(1)).collect {
      case (d, why) if !d.startsWith(" ") && why.startsWith("    ") => (d, why.trim)
    }
    val outside = listed.filterNot(_._2.startsWith("KEEP:"))
    assert(outside.isEmpty, s"unreached defs outside KEEP:\n${out.toString}")
    assert(exit == 0, out.toString)
    assert(lines.lastOption.contains("0 unreached defs outside KEEP"), out.toString)
  }
}
