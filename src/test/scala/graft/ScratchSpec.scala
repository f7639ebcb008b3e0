package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

class ScratchSpec extends AnyFunSpec with Matchers {

  /** A data-dir key no other case or suite uses (entries only key on
    * the path; it need not exist). */
  private def freshDataDir(): String =
    s"/spec/data/${java.util.UUID.randomUUID()}"

  private def sessionDir(tag: String, dataDir: String): Path =
    Paths.get(s"${Scratch.root}/${tag}_${Scratch.stem(dataDir)}")

  describe("Scratch.session") {
    it("builds an entry once per key") {
      val dataDir = freshDataDir()
      var builds = 0
      val first = Scratch.session("spec_once", dataDir) { d => builds += 1; d }
      val again = Scratch.session("spec_once", dataDir) { d => builds += 1; d + "_x" }
      again shouldBe first
      builds shouldBe 1
      // the tag is part of the key
      Scratch.session("spec_once_other", dataDir) { _ => builds += 1 }
      builds shouldBe 2
      Scratch.clearSession()
    }

    it("clearSession deletes the entry's dir and a later call rebuilds it") {
      val dataDir = freshDataDir()
      val dir = sessionDir("spec_store", dataDir)
      // a leftover from an earlier run is deleted before the first build
      Files.createDirectories(dir.resolve("stale"))
      var builds = 0
      def store(): String = Scratch.session("spec_store", dataDir) { d =>
        builds += 1
        Files.exists(Paths.get(d)) shouldBe false
        Files.createDirectories(Paths.get(d, "g1"))
        d
      }
      store() shouldBe dir.toString
      Files.exists(dir.resolve("g1")) shouldBe true
      Scratch.clearSession()
      Files.exists(dir) shouldBe false
      store() shouldBe dir.toString
      builds shouldBe 2
      Files.exists(dir.resolve("g1")) shouldBe true
      Scratch.clearSession()
      Files.exists(dir) shouldBe false
    }

    it("a value-only entry creates no dir") {
      val dataDir = freshDataDir()
      Scratch.session("spec_value", dataDir)(_ => Seq(1, 2, 3)) shouldBe Seq(1, 2, 3)
      Files.exists(sessionDir("spec_value", dataDir)) shouldBe false
      Scratch.clearSession()
    }

    it("a failed build leaves no entry and no dir") {
      val dataDir = freshDataDir()
      an[IllegalStateException] should be thrownBy
        Scratch.session("spec_fail", dataDir) { d =>
          Files.createDirectories(Paths.get(d))
          throw new IllegalStateException("build failed")
        }
      Files.exists(sessionDir("spec_fail", dataDir)) shouldBe false
      Scratch.session("spec_fail", dataDir)(_ => "rebuilt") shouldBe "rebuilt"
      Scratch.clearSession()
    }
  }

  describe("Scratch.withTempDir") {
    it("deletes its dir when the body throws") {
      var seen = ""
      an[IllegalStateException] should be thrownBy
        Scratch.withTempDir("spec_tmp") { d =>
          seen = d
          Files.createDirectories(Paths.get(d, "sub"))
          Files.write(Paths.get(d, "sub", "f"), Array[Byte](1))
          throw new IllegalStateException("body failed")
        }
      seen should startWith(Scratch.root)
      Files.exists(Paths.get(seen)) shouldBe false
    }

    it("deletes its dir after a normal return and hands back the body's value") {
      var seen = ""
      Scratch.withTempDir("spec_tmp") { d =>
        seen = d
        Files.createDirectories(Paths.get(d))
        42
      } shouldBe 42
      Files.exists(Paths.get(seen)) shouldBe false
    }
  }

  describe("Scratch.rmTree") {
    it("deletes a symlink inside the tree without following it") {
      val outside = Files.createTempDirectory("graft-scratch-target")
      Files.write(outside.resolve("keep"), Array[Byte](1))
      val tree = Files.createTempDirectory("graft-scratch-tree")
      Files.createSymbolicLink(tree.resolve("link"), outside)
      Scratch.rmTree(tree.toString)
      Files.exists(tree) shouldBe false
      Files.exists(outside.resolve("keep")) shouldBe true
      Scratch.rmTree(outside.toString)
    }
  }
}
