package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** The README quotes the gate count once, and it is the registry's. */
class ReadmeCountSpec extends AnyFunSuite {

  test("the README's gate count is Registry.all.size") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), UTF_8)
    val quoted = """All (\d+) queries are oracle-gated""".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toList
    assert(quoted === List(Registry.all.size))
  }
}
