package graft.conll

import org.scalatest.Assertions.fail

/** The reference implementation's bundled corpus (its `data/` directory),
  * checked out beside this repository. Every suite that replays it reads
  * its paths through [[file]], so a missing corpus fails each such test
  * with one message naming the path instead of a FileNotFoundException
  * stack trace. */
object ReferenceCorpus {
  val dir: java.io.File = new java.io.File("../reference/data").getCanonicalFile

  /** `rel` under [[dir]]; fails the calling test when it is absent. */
  def file(rel: String): String = {
    val f = new java.io.File(dir, rel)
    if (!f.isFile) fail(s"reference corpus not found: ${f.getPath}")
    f.getPath
  }
}
