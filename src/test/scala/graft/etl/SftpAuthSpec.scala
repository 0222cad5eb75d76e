package graft.etl

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.SftpStager

/** Password-authenticated SFTP transport (reference parity:
  * python/01_ingest_sftp_pedidos.py:40-44 connects paramiko with a
  * password). The engine wraps sftp(1) in sshpass(1); these tests drive the
  * full wrapper through an injectable scripted transport — asserting the
  * password travels ONLY via the child's SSHPASS environment (never argv) —
  * plus the loud-failure contracts of [[SftpStager.SftpBatchStore.size]]. */
class SftpAuthSpec extends AnyFunSuite {

  // scripted sshpass+sftp stand-in: refuses unless the password arrived in
  // $SSHPASS (the withPassword env channel), then serves batch ls/get like
  // the PipelineSpec transport
  private def passwordSftp(expected: String) =
    s"""#!/bin/sh
       |[ "$$SSHPASS" = "$expected" ] || { echo "Permission denied"; exit 5; }
       |case "$$*" in *"$expected"*) echo "password leaked to argv"; exit 6;; esac
       |while [ "$$1" != "-b" ] && [ $$# -gt 0 ]; do shift; done
       |batch="$$2"
       |root="$$3"
       |while IFS= read -r line; do
       |  [ -z "$$line" ] && continue
       |  echo "sftp> $$line"
       |  set -- $$line
       |  case "$$1" in
       |    ls)
       |      p=$$3; p=$${p#\\"}; p=$${p%\\"}
       |      ls -l "$$root/$$p" || exit 1
       |      ;;
       |    get)
       |      src=$$2; src=$${src#\\"}; src=$${src%\\"}
       |      dst=$$3; dst=$${dst#\\"}; dst=$${dst%\\"}
       |      cp "$$root/$$src" "$$dst" || exit 1
       |      ;;
       |  esac
       |done < "$$batch"
       |""".stripMargin

  test("withPassword: password reaches the child via SSHPASS env only; transport works") {
    val root = graft.SparkSpec.tempDir("sftppw")
    val remote = Files.createDirectories(root.resolve("remote"))
    Files.write(remote.resolve("A.CSV"), "alpha".getBytes)
    val script = root.resolve("fake_sshpass_sftp.sh")
    Files.write(script, passwordSftp("hunter2").getBytes("UTF-8"))

    val store = SftpStager.SftpBatchStore.withPassword(root.toString,
      "hunter2", command = Seq("/bin/sh", script.toString))
    assert(store.size("remote/A.CSV") == 5L)
    val tmp = root.resolve("A.part")
    store.get("remote/A.CSV", tmp)
    assert(new String(Files.readAllBytes(tmp)) == "alpha")
  }

  test("withPassword: wrong password fails loudly (one prompt, no retry hang)") {
    val root = graft.SparkSpec.tempDir("sftppwbad")
    Files.createDirectories(root.resolve("remote"))
    val script = root.resolve("fake_sshpass_sftp.sh")
    Files.write(script, passwordSftp("hunter2").getBytes("UTF-8"))
    val store = SftpStager.SftpBatchStore.withPassword(root.toString,
      "wrong", command = Seq("/bin/sh", script.toString))
    val e = intercept[java.io.IOException] { store.size("remote/A.CSV") }
    assert(e.getMessage.contains("Permission denied"), e.getMessage)
  }

  test("withPassword default command: missing sshpass(1) yields an actionable error") {
    // the container has no sshpass — the exec failure must say what to
    // install, not surface a bare "No such file or directory"
    assume(!sys.env.getOrElse("PATH", "").split(':')
      .exists(p => Files.exists(java.nio.file.Paths.get(p, "sshpass"))))
    val store = SftpStager.SftpBatchStore.withPassword("host", "pw")
    val e = intercept[java.io.IOException] { store.size("remote/A.CSV") }
    assert(e.getMessage.contains("sshpass(1) not found"), e.getMessage)
  }

  test("size: stat of a one-file directory is rejected, not verified against the child") {
    val root = graft.SparkSpec.tempDir("sftpdir")
    val remote = Files.createDirectories(root.resolve("remote"))
    Files.write(remote.resolve("only.csv"), "abcdef".getBytes)
    val script = root.resolve("fake_sftp.sh")
    Files.write(script, passwordSftp("pw").getBytes("UTF-8"))
    val store = SftpStager.SftpBatchStore.withPassword(root.toString, "pw",
      command = Seq("/bin/sh", script.toString))
    // `ls -l remote` of the directory lists its single child: without the
    // identity check this would "verify" remote against only.csv's 6 bytes
    val e = intercept[java.io.IOException] { store.size("remote") }
    assert(e.getMessage.contains("resolved to a different object"), e.getMessage)
  }

  test("list: unparseable ls lines are counted loudly, valid entries survive") {
    val root = graft.SparkSpec.tempDir("sftpdrift")
    val script = root.resolve("drift.sh")
    // one GNU "total" header (benign, never warned), one valid entry, one
    // drifted line matching no long-listing shape — the drift must be
    // REPORTED with a count, not silently shrink the listing
    Files.write(script,
      ("#!/bin/sh\n" +
        "echo 'total 4'\n" +
        "echo '-rw-r--r-- 1 u g 5 Jan  1 12:00 A.CSV'\n" +
        "echo '??? vendor-custom listing format ???'\n").getBytes("UTF-8"))
    val store = new SftpStager.SftpBatchStore(root.toString,
      command = Seq("/bin/sh", script.toString))
    val errBuf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    val files = try {
      System.setErr(new java.io.PrintStream(errBuf, true, "UTF-8"))
      store.list("remote")
    } finally System.setErr(prev)
    assert(files.map(f => (f.name, f.size, f.isDir)) ==
      Seq(("A.CSV", 5L, false)))
    val err = errBuf.toString("UTF-8")
    assert(err.contains("1 unparseable line(s)"), err)
    assert(err.contains("vendor-custom"), err)
  }

  test("size: unparseable ls output is loud, not '0 entries'") {
    val root = graft.SparkSpec.tempDir("sftpgarbage")
    val script = root.resolve("garbage.sh")
    Files.write(script,
      "#!/bin/sh\necho 'banner: welcome to corp sftp'\n".getBytes("UTF-8"))
    val store = new SftpStager.SftpBatchStore(root.toString,
      command = Seq("/bin/sh", script.toString))
    val e = intercept[java.io.IOException] { store.size("remote/A.CSV") }
    assert(e.getMessage.contains("unparseable ls output"), e.getMessage)
  }
}
