from terrier_spark.compression.vbyte import vbyte_encode, vbyte_decode

__all__ = ["vbyte_encode", "vbyte_decode"]
