package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.model.ConfigRegistry

/** Round-trip of the schema-registry surface (reference cli.py:146-176 +
  * controller.py:27-116, tests test_cli.py / test_controller.py:28-37):
  * register copies the file in and records it, the db persists across
  * instances, remove deletes entry + file, unknown removes are no-ops. */
class ConfigRegistrySpec extends AnyFunSuite {

  test("register/list/fetch/remove round-trip persists across instances") {
    val regDir = Files.createTempDirectory(graft.model.Fs.root.toPath, "registry")
    val srcDir = Files.createTempDirectory(graft.model.Fs.root.toPath, "registry_src")
    val schemaA = srcDir.resolve("schema_a.yml")
    val schemaB = srcDir.resolve("schema_b.yml")
    Files.write(schemaA, "type: map\nmapping:\n  key_a: {type: str}\n".getBytes(UTF_8))
    Files.write(schemaB, "type: map\nmapping:\n  key_b: {type: int}\n".getBytes(UTF_8))

    val reg = new ConfigRegistry(regDir)
    assert(reg.db.isEmpty)
    assert(reg.register("alpha", schemaA) == "schema_a.yml")
    assert(reg.register("beta", schemaB) == "schema_b.yml")
    assert(reg.db == Map("alpha" -> "schema_a.yml", "beta" -> "schema_b.yml"))
    assert(reg.fetch("alpha").exists(_.contains("key_a")))

    // a fresh instance over the same dir sees the persisted db
    val reg2 = new ConfigRegistry(regDir)
    assert(reg2.db.keySet == Set("alpha", "beta"))
    assert(Files.exists(regDir.resolve("schema_a.yml")))

    // remove deletes entry AND file; unknown name is a no-op
    assert(reg2.remove("alpha"))
    assert(!Files.exists(regDir.resolve("schema_a.yml")))
    assert(!reg2.remove("alpha"))
    assert(reg2.db == Map("beta" -> "schema_b.yml"))
    assert(reg2.fetch("alpha").isEmpty)

    // re-register after remove works (controller.py register overwrites)
    assert(reg2.register("alpha", schemaA) == "schema_a.yml")
    assert(new ConfigRegistry(regDir).fetch("alpha").exists(_.contains("key_a")))
  }
}
