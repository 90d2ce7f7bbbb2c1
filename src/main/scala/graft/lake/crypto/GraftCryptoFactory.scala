package graft.lake.crypto

import java.security.SecureRandom
import java.util.Base64

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.crypto.{DecryptionPropertiesFactory, EncryptionPropertiesFactory, FileDecryptionProperties, FileEncryptionProperties}
import org.apache.parquet.hadoop.api.WriteSupport

/** Parquet Modular Encryption integration (reference: A5,
  * src/encryption.rs:81-290 — per-file AES keys held in the DuckLake
  * catalog; files are standard PME, readable by any PME-compliant tool).
  *
  * Spark's parquet read/write paths load this factory from the
  * `parquet.crypto.factory.class` Hadoop conf, which `spark.read/.write
  * .option(...)` scopes per scan/write — so keys ride the job conf of the
  * one relation they belong to, never the global session. Uniform
  * encryption: the footer key encrypts footer and all columns (the
  * reference's model — no per-column keys in the DuckLake catalog).
  *
  * Conf keys:
  *  - `graft.encrypt.key`: base64 AES-128 footer key for writes.
  *  - `graft.decrypt.keys`: `fileName:b64Key;fileName:b64Key` map for
  *    reads (file names are UUIDs, so `:`/`;` never collide).
  *  - `graft.decrypt.key`: single-key fallback for reads.
  * Absent conf → null properties → plaintext behavior, so the factory is
  * inert for unencrypted lakes even if globally configured.
  */
class GraftCryptoFactory extends EncryptionPropertiesFactory with DecryptionPropertiesFactory {

  override def getFileEncryptionProperties(conf: Configuration, tempFilePath: Path,
      ctx: WriteSupport.WriteContext): FileEncryptionProperties = {
    val b64 = conf.get(GraftCryptoFactory.EncryptKey)
    if (b64 == null) null
    else FileEncryptionProperties.builder(Base64.getDecoder.decode(b64)).build()
  }

  override def getFileDecryptionProperties(conf: Configuration,
      filePath: Path): FileDecryptionProperties = {
    val mapped = Option(conf.get(GraftCryptoFactory.DecryptKeys)).flatMap { m =>
      val name = filePath.getName
      m.split(';').iterator.map(_.split(":", 2))
        .collectFirst { case Array(n, k) if n == name => k }
    }
    mapped.orElse(Option(conf.get(GraftCryptoFactory.DecryptKey))) match {
      case None => null
      case Some(b64) => FileDecryptionProperties.builder()
        .withFooterKey(Base64.getDecoder.decode(b64))
        .withPlaintextFilesAllowed()
        .build()
    }
  }
}

object GraftCryptoFactory {
  val FactoryClass: String = EncryptionPropertiesFactory.CRYPTO_FACTORY_CLASS_PROPERTY_NAME
  val EncryptKey = "graft.encrypt.key"
  val DecryptKeys = "graft.decrypt.keys"
  val DecryptKey = "graft.decrypt.key"

  private val rng = new SecureRandom()

  /** Fresh random AES-128 key, base64 (the catalog is the key store, as in
    * the reference where `ducklake_data_file.encryption_key` holds it).
    */
  def newKeyB64(): String = {
    val k = new Array[Byte](16)
    rng.nextBytes(k)
    Base64.getEncoder.encodeToString(k)
  }

  def decryptionProps(b64: String): FileDecryptionProperties =
    FileDecryptionProperties.builder()
      .withFooterKey(Base64.getDecoder.decode(b64))
      .withPlaintextFilesAllowed()
      .build()
}
